package graft.config

import graft.config.ConfigParser._
import graft.dsl.LogPath
import graft.functions.{GraftFunctions, JsonFlatten, XmlFlatten}
import graft.operators.{Filters, Parsers, Rewrites}
import graft.template.Template
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Compile a parsed config into DataFrame programs — `cfg_init` →
  * `cfg_tree_compile_rule` (`/root/reference/lib/cfg.c:330`,
  * `lib/cfg-tree.c:1230`) with LogPipe graphs replaced by LogPath
  * folds over DataFrames.
  *
  * Builtin macro names (HOST, PROGRAM, ...) resolve to the LogRecord
  * columns; `value("NAME")` likewise. Each compiled log statement yields
  * one DataFrame per referenced destination (the fan-out is N filtered
  * views of one plan — Catalyst CSEs the shared prefix).
  */
object ConfigCompiler {

  /** One sink-ready output: the destination block it feeds and the rows
    * routed there. */
  final case class Route(destination: String, dest: Block, df: DataFrame)

  def compile(cfg0: Config, sources: Map[String, DataFrame]): Seq[Route] = {
    val cfg = expandTemplates(cfg0)
    cfg.logs.flatMap(compileLog(cfg, sources, _))
  }

  /** Static binding of named templates (tf-template.c "static" case +
    * lib/template/user-function.c): `template(NAME)` options resolve to
    * the declared text, and `$(template NAME)` / `$(user-fn-name)`
    * occurrences expand textually at config-read time — the same
    * compile-time lookup the reference performs. Dynamic references
    * (`$(template ${VAR})`) stay unexpanded and fail at template
    * compile like any unknown function. */
  private[config] def expandTemplates(cfg: Config): Config = {
    val templates = cfg.templates
    val userFns = cfg.templateFunctions
    if (templates.isEmpty) return cfg
    def expandText(text0: String): String = {
      var text = text0
      var depth = 0
      var changed = true
      while (changed) {
        changed = false
        require(depth <= 8, s"template expansion too deep (cycle?): $text0")
        val next1 = "\\$\\(template ([A-Za-z0-9_-]+)\\)".r.replaceAllIn(text,
          m => templates.get(m.group(1)) match {
            case Some(t) => java.util.regex.Matcher.quoteReplacement(t)
            case None => java.util.regex.Matcher.quoteReplacement(m.matched)
          })
        val next2 =
          if (userFns.isEmpty) next1
          else "\\$\\(([A-Za-z0-9_-]+)\\)".r.replaceAllIn(next1,
            m => userFns.get(m.group(1)) match {
              case Some(t) => java.util.regex.Matcher.quoteReplacement(t)
              case None => java.util.regex.Matcher.quoteReplacement(m.matched)
            })
        if (next2 != text) { text = next2; changed = true; depth += 1 }
      }
      text
    }
    def expandArg(a: Arg): Arg = a match {
      case Lit(v) => Lit(expandText(v))
      case KV("template", Seq(Lit(name))) if templates.contains(name) =>
        KV("template", Seq(Lit(expandText(templates(name)))))
      case KV(k, vs) => KV(k, vs.map(expandArg))
      case other => other
    }
    def expandStmt(s: Stmt): Stmt = Stmt(s.name, s.args.map(expandArg))
    def expandElem(e: LogElem): LogElem = e match {
      case InlineStmt(k, s) => InlineStmt(k, expandStmt(s))
      case JunctionElem(chans) => JunctionElem(chans.map(c =>
        ChannelElem(c.path.map(expandElem), c.flags)))
      case other => other
    }
    Config(cfg.decls.map {
      case Block(kind, name, stmts) => Block(kind, name, stmts.map(expandStmt))
      case LogDecl(path) => LogDecl(path.map(expandElem))
      case other => other
    })
  }

  /** Streaming compile: source blocks with `file("glob")` become
    * Structured Streaming scans (lines → ParseSyslog → LogRecord
    * columns), the log paths apply unchanged (same Column algebra on a
    * streaming frame), and `Route.df` is a streaming DataFrame ready for
    * [[startRoute]]. The full reference loop: config text in,
    * running pipeline out. */
  def compileStreaming(cfg: Config,
      spark: org.apache.spark.sql.SparkSession): Seq[Route] =
    compileStreamingPipeline(cfg, spark,
      java.nio.file.Files.createTempDirectory("graft_net").toString)._1

  /** Session defaults of a streaming pipeline. An explicit setting of a
    * key wins: in the session, or in the Hadoop configuration sessions
    * start from (`core-site.xml`, `spark.hadoop.*`).
    * - Stateful pipelines (grouping-by/correlate/suppress/throttle) use
    *   the RocksDB state store: the HDFS-backed default holds every open
    *   context on-heap per executor, which does not survive 100 TB/day
    *   of correlation state; RocksDB spills to local disk with bounded
    *   heap.
    * - `file:` checkpoints and sinks go through
    *   [[graft.streaming.LocalFiles]], which sets permissions and reads
    *   links without forking a process per file. */
  private def streamingSessionDefaults(
      spark: org.apache.spark.sql.SparkSession): Unit = {
    // the session's settings are copied in with a source of their own
    val hadoop = spark.sessionState.newHadoopConf()
    def userSet(key: String) =
      Option(hadoop.getPropertySources(key)).exists(_.exists(_ != "core-default.xml"))
    (("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") +:
      graft.streaming.LocalFiles.SessionDefaults).foreach { case (key, value) =>
      if (!userSet(key)) spark.conf.set(key, value) }
  }

  /** [[compileStreaming]] plus the live socket listeners it started —
    * `network(transport(tcp|udp) port(N))` / `syslog(transport(...))`
    * source statements (`modules/afsocket/afinet-source.c`) bind a
    * dev-mode listener each: [[graft.streaming.TcpSource]] with
    * newline framing for network(), RFC6587 octet-counted for
    * syslog() (the reference's framed transport), or
    * [[graft.streaming.UdpSource]] for `transport(udp)` (one datagram
    * = one message, `logproto-dgram-server.c` — syslog() over UDP is
    * RFC5426, never octet-counted). `flags(no-parse)` leaves the raw
    * line in `message` (the default-network-drivers front door).
    * Callers get the listener map keyed by source name (boundPort for
    * port(0)), and own stop(). */
  def compileStreamingPipeline(cfg0: Config,
      spark: org.apache.spark.sql.SparkSession, spoolBase: String)
      : (Seq[Route], Map[String, graft.streaming.SocketListener]) = {
    streamingSessionDefaults(spark)
    val cfg = expandTemplates(cfg0)
    var listeners = Map.empty[String, graft.streaming.SocketListener]
    val sources0 = cfg.sources.map { case (name, blk) =>
      val stmt = blk.stmts.find(s => s.name == "file" ||
          s.name == "wildcard-file" || s.name == "network" ||
          s.name == "syslog" || s.name == "osquery" || s.name == "mbox" ||
          s.name == "snmptrap" || s.name == "unix-stream" || s.name == "system" ||
          s.name == "pacct" || s.name == "nodejs" || s.name == "program" ||
          s.name == "example-msg-generator" || s.name == "openbsd" ||
          s.name == "systemd-journal" ||
          s.name == "pipe" || s.name == "stdin")
        .getOrElse(throw new IllegalArgumentException(
          s"source $name: only file()/network()/syslog()/osquery() sources stream here"))
      // scl/osquery/plugin.conf:3-8: file source with no-parse +
      // program-override("osquery") + json-parser(prefix(".osquery."))
      if (stmt.name == "snmptrap") {
        // scl/snmptrap/snmptrapd-source.conf: file() with
        // multi-line-mode(prefix-garbage) on the snmptrapd date
        // prefix + snmptrapd-parser(prefix() set-message-macro())
        val path = kvOf(stmt.args, "filename")
          .orElse(stmt.args.collectFirst { case Lit(p) => p })
          .getOrElse(throw new IllegalArgumentException(
            s"source $name: snmptrap() needs filename()"))
        val prefix = kvOf(stmt.args, "prefix").getOrElse(".snmp.")
        val setMsg = !kvOf(stmt.args, "set-message-macro").contains("no")
        val lines = graft.streaming.Sources.multilineStream(spark, path,
          "[0-9]{4}-[0-9]{1,2}-[0-9]{1,2}[ T]([0-9]{1,2}:){2}[0-9]{2}")
        name -> Parsers.snmptrapdParser(
            lines.select(col("source_file"), col("value").as("message")),
            prefix, setMsg)
          .withColumn("tags", array().cast("array<string>"))
      } else if (stmt.name == "system" ||
          (stmt.name == "file" && kvOf(stmt.args, "format").contains("linux-kmsg"))) {
        // modules/system-source/system-source.c:222-249 — on linux the
        // system() block resolves to `file("/dev/kmsg" program-override
        // ("kernel") flags(kernel) format(linux-kmsg) keep-timestamp(no))`
        // (plus the /dev/log dgram socket, whose transport here is the
        // unix-stream() listener form). kmsg-file() is the dev-mode
        // path override so tests don't need the real device.
        val path =
          if (stmt.name == "system") kvOf(stmt.args, "kmsg-file").getOrElse("/dev/kmsg")
          else stmt.args.collectFirst { case Lit(p) => p }
            .orElse(kvOf(stmt.args, "filename")).getOrElse(
              throw new IllegalArgumentException(s"source $name: file() needs a path"))
        val program = kvOf(stmt.args, "program-override").getOrElse("kernel")
        name -> graft.streaming.Sources.parsedKmsg(
            graft.streaming.Sources.fileLines(spark, path))
          .withColumn("program", lit(program))
      } else if (stmt.name == "pacct") {
        // scl/pacct/plugin.conf: file("/var/log/account/pacct"
        // format("pacct") tags(".pacct"))
        val path = kvOf(stmt.args, "file")
          .orElse(stmt.args.collectFirst { case Lit(p) => p })
          .getOrElse("/var/log/account/pacct")
        name -> graft.streaming.Sources.pacctRecords(spark, path)
      } else if (stmt.name == "nodejs") {
        // scl/nodejs/plugin.conf: network(transport(tcp) port(9003)
        // flags(no-parse)) → json-parser(extract-prefix("[1]")
        // prefix(".nodejs.winston.")) → set(${.nodejs.winston.message}
        // value("MESSAGE")) + set("" value(".nodejs.winston.message"))
        val port = kvOf(stmt.args, "port").map(_.toInt).getOrElse(9003)
        val (l, src) = graft.streaming.TcpSource.listen(spark,
          s"$spoolBase/$name", port)
        listeners += name -> l
        val key = ".nodejs.winston.message"
        name -> src
          .withColumn("values", coalesce(
            JsonFlatten(col("value"), ".nodejs.winston.", "[1]"),
            map().cast("map<string,string>")))
          .withColumn("message",
            coalesce(element_at(col("values"), key), lit("")))
          .withColumn("values", transform_values(col("values"),
            (k, v) => when(k === key, lit("")).otherwise(v)))
          .drop("value")
          .withColumn("tags", array().cast("array<string>"))
      } else if (stmt.name == "example-msg-generator") {
        // modules/examples/sources/msg-generator: freq() is SECONDS
        // (float or int, grammar msg-generator-grammar.ym:85-93,
        // set_freq stores freq*1000 ms), num() bounds the total,
        // template() overrides the default message, values("n" =>
        // "tpl") adds name-values before the message render.
        val freqMs = kvOf(stmt.args, "freq").map(f =>
          math.max(1L, (f.toDouble * 1000).toLong)).getOrElse(1000L)
        val num = kvOf(stmt.args, "num").map(_.toInt).getOrElse(0)
        val tpl = kvOf(stmt.args, "template")
        val pairs = stmt.args.collectFirst { case KV("values", vs) =>
          vs.collect { case KV(n, tv) =>
            n -> tv.collect { case Lit(v) => v }.mkString(" ") }
        }.getOrElse(Nil)
        name -> graft.streaming.Sources.msgGenerator(spark, tpl, freqMs,
          num, pairs)
      } else if (stmt.name == "systemd-journal") {
        // modules/systemd-journal: prefix() (default ".journald.",
        // journal-reader.c:777), max-field-size() (default 64k, :44);
        // journal-file() is the dev-mode capture-file override (export
        // format), same pattern as system()'s kmsg-file().
        val path = kvOf(stmt.args, "journal-file")
          .getOrElse("/var/log/journal/export")
        val prefix = kvOf(stmt.args, "prefix").getOrElse(".journald.")
        val mfs = kvOf(stmt.args, "max-field-size").map(_.toInt)
          .getOrElse(64 * 1024)
        name -> graft.streaming.Sources.journalEntries(spark, path, prefix, mfs)
      } else if (stmt.name == "openbsd") {
        // modules/openbsd/openbsd-driver.c:58-125: a dgram reader over
        // the /dev/klog socketpair; the driver marks the source LOCAL
        // and clears EXPECT_HOSTNAME (:183-184), so a kern-facility
        // line without a timestamp keeps its message whole with
        // program "kernel" (syslog-format.c:800-803). klog-file()
        // is the dev-mode path override (same pattern as system()'s
        // kmsg-file()).
        val path = kvOf(stmt.args, "klog-file").getOrElse("/dev/klog")
        name -> graft.streaming.Sources.parsedSyslog(
            graft.streaming.Sources.fileLines(spark, path),
            flags = Seq("local", "no-hostname"))
          .withColumn("tags", array().cast("array<string>"))
          .withColumn("values", map().cast("map<string,string>"))
      } else if (stmt.name == "osquery") {
        val path = kvOf(stmt.args, "file")
          .orElse(stmt.args.collectFirst { case Lit(p) => p })
          .getOrElse("/var/log/osquery/osqueryd.results.log")
        val prefix = kvOf(stmt.args, "prefix").getOrElse(".osquery.")
        name -> graft.streaming.Sources.fileLines(spark, path)
          .select(col("source_file"), col("value").as("message"))
          .withColumn("program", lit("osquery"))
          .withColumn("values",
            coalesce(JsonFlatten(col("message"), prefix, ""),
              map().cast("map<string,string>")))
          .withColumn("tags", array().cast("array<string>"))
      } else {
      val lines = stmt.name match {
        case "file" | "mbox" | "wildcard-file" =>
          // wildcard-file(base-dir() filename-pattern()) — the glob
          // directory monitor (wildcard-source.c:103-299); plain file()
          // takes the path literal/filename(). A file() path carrying
          // '*'/'?' is the LEGACY wildcard source
          // (affile_is_legacy_wildcard_source, wildcard-source.c:464):
          // it converts to a wildcard source via the dirname/basename
          // split with the DEFAULT max-files cap.
          val filePath =
            if (stmt.name == "wildcard-file") None
            else Some(stmt.args.collectFirst { case Lit(p) => p }
              .orElse(kvOf(stmt.args, "filename")).getOrElse(
                throw new IllegalArgumentException(s"source $name: file() needs a path")))
          val wSpec: Option[WildcardSpec] =
            if (stmt.name == "wildcard-file")
              Some(wildcardSourceSpec(stmt.args, name))
            else filePath.filter(p => p.contains("*") || p.contains("?"))
              .map { p =>
                val (dir, base) = legacyWildcardSplit(p)
                WildcardSpec(dir, base, maxFiles = 100, recursive = false,
                  monitorMethod = "auto")
              }
          val path = wSpec.map(_.glob).getOrElse(filePath.get)
          // follow-freq(nonnegative_float) — affile-grammar.ym:178
          // ties the option to the `nonnegative_float` grammar rule,
          // so a negative value is a CONFIG-TIME error (the daemon
          // refuses to start, test_follow_freq_value.py); zero is
          // legal (poll disabled, affile-source.c:163). Spark's file
          // source is poll-based with its own trigger cadence, so a
          // valid value does not change the compiled plan.
          kvOf(stmt.args, "follow-freq").foreach { f =>
            val v = try f.toDouble catch {
              case _: NumberFormatException =>
                throw new IllegalArgumentException(
                  s"source $name: follow-freq($f) is not a number")
            }
            if (v < 0) throw new IllegalArgumentException(
              s"source $name: follow-freq() takes a nonnegative float, " +
                s"got $f (affile-grammar.ym nonnegative_float)")
          }
          // multi-line-mode()/multi-line-prefix() (logproto-regexp-/
          // indented-multiline-server.c); mbox() (scl/mbox/mbox.conf)
          // = file() with multi-line-prefix('^From ') + no-parse
          val mlPrefix =
            if (stmt.name == "mbox") Some("From ")
            else kvOf(stmt.args, "multi-line-prefix")
              .map(_.stripPrefix("^"))
              .orElse(kvOf(stmt.args, "multi-line-mode").collect {
                case "indented" => "[^\\s]"
              })
          // multi-line-garbage() drops from its match; the suffix
          // form keeps the match (logproto-regexp-multiline-server.c)
          val mlGarbage = kvOf(stmt.args, "multi-line-garbage")
          val mlSuffix = kvOf(stmt.args, "multi-line-suffix")
          // pad-size(N): fixed-size padded records
          // (logproto-record-server.c) — batch read, so it composes
          // with neither multi-line nor the line stream
          val padSize = kvOf(stmt.args, "pad-size").map(_.toInt)
          // encoding(): declared input charset (logreader options)
          val enc = kvOf(stmt.args, "encoding")
            .filterNot(e => e.equalsIgnoreCase("utf-8") || e.equalsIgnoreCase("utf8"))
          // wildcard-source.c:103-299 monitoring knobs: max-files(N)
          // caps how many glob members are consumed per poll →
          // maxFilesPerTrigger (the same per-cycle reader budget, the
          // reference's DEFAULT_MAX_FILES = 100); monitor-method picks
          // the OS watch primitive — Spark's file source is
          // poll-based, so both values compile to the same scan
          // (validated + recorded); recursive(yes) walks
          // subdirectories (recursiveFileLookup + pathGlobFilter)
          val maxFiles = wSpec.map(_.maxFiles)
            .orElse(kvOf(stmt.args, "max-files").map(_.toInt)).getOrElse(100)
          val recursive = wSpec.exists(_.recursive)
          // recursion is orthogonal to the framing proto (the
          // reference's directory monitors recurse below base-dir
          // whatever the reader proto is)
          val recBase: Option[(String, String)] =
            if (recursive) Some((wSpec.get.baseDir, wSpec.get.filenamePattern))
            else None
          (mlPrefix, padSize, enc) match {
            case (_, Some(n), encOpt) =>
              require(kvOf(stmt.args, "max-files").isEmpty,
                s"source $name: max-files() is not supported with pad-size()")
              graft.streaming.Sources.paddedRecords(spark, path, n, encOpt, recBase)
            case (_, _, Some(cs)) =>
              require(kvOf(stmt.args, "max-files").isEmpty,
                s"source $name: max-files() is not supported with encoding()")
              graft.streaming.Sources.fileLinesEncoded(spark, path, cs, recBase)
            case (Some(re), _, _) => graft.streaming.Sources.multilineStream(
              spark, path, re, maxFilesPerTrigger = maxFiles,
              garbageRe = mlGarbage, suffixRe = mlSuffix,
              recursive = recBase)
            case _ if recursive =>
              graft.streaming.Sources.fileLinesRecursive(spark,
                wSpec.get.baseDir, wSpec.get.filenamePattern, maxFiles)
            case _ => graft.streaming.Sources.fileLines(spark, path, maxFiles)
          }
        case "program" =>
          // modules/afprog/afprog.c:86-92: `/bin/sh -c cmdline`,
          // stdout read as newline text through the shared spool loop
          val cmd = stmt.args.collectFirst { case Lit(c) => c }
            .getOrElse(throw new IllegalArgumentException(
              s"source $name: program() needs a command line"))
          val (l, src) = graft.streaming.ProgramSource.listen(spark,
            s"$spoolBase/$name", cmd)
          listeners += name -> l
          src
        case "pipe" =>
          // modules/affile/named-pipe.c:67-73: the FIFO opened O_RDWR
          // so the reader survives writers coming and going
          val path = stmt.args.collectFirst { case Lit(p) => p }
            .orElse(kvOf(stmt.args, "path")).getOrElse(
              throw new IllegalArgumentException(
                s"source $name: pipe() needs a path"))
          val (l, src) = graft.streaming.ProgramSource.pipe(spark,
            s"$spoolBase/$name", path)
          listeners += name -> l
          src
        case "stdin" =>
          // modules/affile/stdin.c: fd 0, exit-on-eof
          val (l, src) = graft.streaming.ProgramSource.fromStream(spark,
            s"$spoolBase/$name", System.in)
          listeners += name -> l
          src
        case "unix-stream" =>
          // modules/afsocket/afunix-source.c: same spool loop over a
          // unix domain socket
          val sockPath = stmt.args.collectFirst { case Lit(p) => p }
            .orElse(kvOf(stmt.args, "path")).getOrElse(
              throw new IllegalArgumentException(
                s"source $name: unix-stream() needs a path"))
          val maxSize = kvOf(stmt.args, "log-msg-size").map(_.toInt)
            .getOrElse(65536)
          val (l, src) = graft.streaming.UnixSource.listen(spark,
            s"$spoolBase/$name", sockPath, maxMsgSize = maxSize)
          listeners += name -> l
          src
        case proto =>
          val port = kvOf(stmt.args, "port").map(_.toInt).getOrElse(0)
          val maxSize = kvOf(stmt.args, "log-msg-size").map(_.toInt)
            .getOrElse(65536)
          val transport = kvOf(stmt.args, "transport").getOrElse("tcp")
          if (transport == "udp") {
            val (l, src) = graft.streaming.UdpSource.listen(spark,
              s"$spoolBase/$name", port, maxMsgSize = maxSize)
            listeners += name -> l
            src
          } else {
            // transport(proxied-tcp|proxied-tls): the connection opens
            // with a mandatory proxy-protocol v1 handshake
            // (logproto-proxied-text-server.c); the listener validates
            // it, drops non-proxied clients, and spools each frame
            // with its connection header attached (U+0001 separator)
            val proxied = transport == "proxied-tcp" ||
              transport == "proxied-tls"
            // transport(tls): the tls(cert-file() key-file()) block of
            // afsocket-grammar.ym; same framing over the TLS stream
            val tls =
              if (transport != "tls" && transport != "proxied-tls") None
              else {
                val tlsArgs = stmt.args.collectFirst {
                  case KV("tls", vs) => vs
                }.getOrElse(throw new IllegalArgumentException(
                  s"source $name: transport($transport) needs a tls() block"))
                val cert = kvOf(tlsArgs, "cert-file").getOrElse(
                  throw new IllegalArgumentException(
                    s"source $name: tls() needs cert-file()"))
                val key = kvOf(tlsArgs, "key-file").getOrElse(
                  throw new IllegalArgumentException(
                    s"source $name: tls() needs key-file()"))
                Some(cert -> key)
              }
            val (l, src) = graft.streaming.TcpSource.listen(spark,
              s"$spoolBase/$name", port, octetCounted = proto == "syslog",
              proxyProtocol = proxied, maxMsgSize = maxSize, tls = tls)
            listeners += name -> l
            if (proxied) src.withColumn("__pp", lit(true)) else src
          }
      }
      val flags = stmt.args.collectFirst { case KV("flags", vs) => lits(vs) }
        .getOrElse(Nil)
      // proxied transports: split the spool record back into the
      // connection's handshake line and the frame; the PROXIED_* aux
      // values land in the `values` map exactly like the reference
      // attaches them to every message of the connection
      // (logproto-proxied-text-server.c:169-186 via ProxyProto.pairs)
      val (frames, ppVals) =
        if (lines.columns.contains("__pp")) {
          val pos = instr(col("value"), "\u0001")
          val hdr = col("value").substr(lit(1), pos - 1)
          val body = col("value").substr(pos + 1, length(col("value")))
          (lines.withColumn("__ppinfo",
              graft.functions.ProxyProtoHeader(hdr))
            .withColumn("value", body).drop("__pp"),
            Some(graft.functions.ProxyProtoHeader.nvPairs(col("__ppinfo"))))
        } else (lines, None)
      val parsed =
        if (flags.contains("no-parse") || stmt.name == "mbox")
          frames.select(frames.columns.filter(_ == "__ppinfo")
            .map(col) :+ col("source_file") :+ col("value").as("message"): _*)
        else if (frames.columns.contains("__ppinfo"))
          // parsedSyslog projects to (source_file, parse fields) — keep
          // the connection's proxy info alongside the parsed columns
          frames.withColumn("p",
              graft.functions.GraftFunctions.parse_syslog(col("value"), 2024, Nil))
            .select(col("__ppinfo"), col("source_file"), col("p.*"))
        else graft.streaming.Sources.parsedSyslog(frames)
      name -> parsed
        .withColumn("tags", array().cast("array<string>"))
        .withColumn("values",
          ppVals.getOrElse(map().cast("map<string,string>")))
        .drop("__ppinfo")
      }
    }
    // use-syslogng-pid(yes) — a GENERIC source option (logsource.c:619):
    // at source-queue time the engine's own pid overwrites $PID, AFTER
    // the driver populated the message, so it wins over e.g. the
    // generator's values("PID" => ...) (test_use_syslogng_pid.py)
    val sources = sources0.map { case (name, df) =>
      val useOwn = cfg.sources(name).stmts.exists(s =>
        kvOf(s.args, "use-syslogng-pid")
          .exists(v => Set("yes", "on", "true", "1").contains(v.toLowerCase)))
      name -> (if (useOwn)
        df.withColumn("pid", lit(ProcessHandle.current().pid().toString))
      else df)
    }
    // hook-commands() (`/root/reference/modules/hook-commands/
    // hook-commands.c`): startup+setup run at driver init and a
    // non-zero exit ABORTS initialization; teardown+shutdown run at
    // deinit (attached here to the source's listener stop), with
    // failures reported but not fatal.
    cfg.sources.foreach { case (name, blk) =>
      blk.stmts.find(_.name == "hook-commands").foreach { h =>
        def run(hook: String, abort: Boolean): Unit =
          kvOf(h.args, hook).foreach { cmd =>
            val rc = new ProcessBuilder("/bin/sh", "-c", cmd)
              .inheritIO().start().waitFor()
            if (rc != 0 && abort) throw new IllegalStateException(
              s"hook-commands $hook returned with failure, aborting initialization: $cmd -> $rc")
          }
        try {
          run("startup", abort = true)
          run("setup", abort = true)
        } catch { case e: Throwable =>
          // a failed init hook aborts the whole pipeline: release any
          // listeners already bound
          listeners.values.foreach(l =>
            try l.stop() catch { case scala.util.control.NonFatal(_) => () })
          throw e
        }
        listeners.get(name).foreach { inner =>
          listeners += name -> new graft.streaming.SocketListener {
            def boundPort: Int = inner.boundPort
            def receivedCount: Long = inner.receivedCount
            def stop(): Unit = {
              inner.stop()
              run("teardown", abort = false)
              run("shutdown", abort = false)
            }
          }
        }
      }
    }
    (compile(cfg, sources), listeners)
  }

  /** Start one route against its destination block: `file()` →
    * templated-path partitioned files, `http()` → the batched HTTP
    * writer ([[graft.streaming.Sinks.httpSink]]) with the reference's
    * url/body/batch-lines/batch-bytes/batch-timeout options
    * (`modules/http/http.c:28-90`; body default = the http driver's
    * `$ISODATE $HOST $MSGHDR$MESSAGE`); `network()`/`syslog()` → the
    * TCP egress ([[graft.streaming.TcpSink]], `modules/afsocket/
    * afinet-dest.c`) with `failover()` servers, newline vs RFC6587
    * octet framing, and the RFC5424 default wire format for syslog();
    * plus the http/network scl composites: `loggly()`
    * (`scl/loggly/loggly.conf`), `sumologic-http()`/
    * `sumologic-syslog()` (`scl/sumologic/sumologic.conf`), `slack()`
    * (`scl/slack/slack.conf`) and `telegram()`
    * (`scl/telegram/telegram.conf`) — each a thin body over those two
    * drivers, exactly like the reference's block definitions. */
  def startRoute(route: Route, outDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    route.dest.stmts.find(s => destDrivers.contains(s.name)) match {
      case Some(s) if s.name == "slack" =>
        // scl/slack/slack.conf:35-120: http POST of a JSON attachment
        // array; one attachment per message, ','-delimited inside
        // {"attachments":[...]}; color picked from the colors() list by
        // color-chooser() (default $LEVEL_NUM)
        val url = kvOf(s.args, "hook-url").getOrElse(
          throw new IllegalArgumentException("slack() needs hook-url()"))
        val cols = route.df.columns.toSeq
        def t(tmpl: String): Column = Template.column(tmpl, cols)
        val colors = kvOf(s.args, "colors").getOrElse(
          "#512E5F,#B03A2E,#E74C3C,#F39C12,#F8C471,#7DCEA0,#5DADE2,#85929E")
        val chooser = t(kvOf(s.args, "color-chooser").getOrElse("${LEVEL_NUM}"))
        val color = coalesce(
          try_element_at(split(lit(colors), ","),
            coalesce(chooser.cast("int"), lit(0)) + 1),
          lit(""))
        val attachment = graft.operators.ValuePairs.formatFlatJson(map(
          lit("fallback"), t(kvOf(s.args, "fallback").getOrElse(
            "${MSG} - host: ${HOST} | program: ${PROGRAM}(${PID}) | severity: ${PRIORITY}")),
          lit("color"), color,
          lit("author_name"), t(kvOf(s.args, "author-name").getOrElse(
            "host: ${HOST} | program: ${PROGRAM}(${PID}) | severity: ${PRIORITY}")),
          lit("text"), t(kvOf(s.args, "template").getOrElse("${MSG}")),
          lit("ts"), t("${UNIXTIME}")))
        val http = graft.streaming.Sinks.HttpConfig(url,
          headers = Seq("Content-type" -> "application/json"),
          batchLines = kvOf(s.args, "batch-lines").map(_.toInt).getOrElse(1),
          bodyPrefix = "{\"attachments\":[", bodySuffix = "]}",
          delimiter = ",")
        val df = route.df.withColumn("__body", attachment)
        graft.streaming.Sinks.httpSink(df, "__body", http, checkpoint)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      case Some(s) if s.name == "telegram" =>
        // scl/telegram/telegram.conf: form-urlencoded sendMessage call;
        // text is url-encoded and truncated at max-size()
        val botId = kvOf(s.args, "bot-id").getOrElse("")
        val url = kvOf(s.args, "url").getOrElse(
          s"https://api.telegram.org/bot$botId/sendMessage")
        val cols = route.df.columns.toSeq
        def t(tmpl: String): Column = Template.column(tmpl, cols)
        val maxSize = kvOf(s.args, "max-size").map(_.toInt).getOrElse(4096)
        val body = concat(
          lit("disable_web_page_preview=" +
            kvOf(s.args, "disable-web-page-preview").getOrElse("true")),
          lit("&disable_notification=" +
            kvOf(s.args, "disable-notification").getOrElse("false")),
          lit("&parse_mode=" + kvOf(s.args, "parse-mode").getOrElse("none")),
          lit("&chat_id=" + kvOf(s.args, "chat-id").getOrElse("")),
          lit("&" + kvOf(s.args, "extra-parameters").getOrElse("")),
          lit("&text="),
          url_encode(t(kvOf(s.args, "template").getOrElse("${MSG}"))
            .substr(lit(1), lit(maxSize))))
        val http = graft.streaming.Sinks.HttpConfig(url,
          headers = Seq("Content-Type" -> "application/x-www-form-urlencoded"))
        val df = route.df.withColumn("__body", body)
        graft.streaming.Sinks.httpSink(df, "__body", http, checkpoint)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      case Some(s) if s.name == "hdfs" =>
        // scl/hdfs/plugin.conf over the java HdfsDestination: hdfs-uri()
        // + hdfs-file() name the target, template() the line format.
        // Spark IS a Hadoop-FS client, so the write is the native
        // FileSystem API pointed at the hdfs:// (or s3a://, file://, any
        // Hadoop scheme) URI — no separate client library, and the
        // kerberos/client-lib options belong to the cluster conf. $MACRO
        // refs in hdfs-file become dynamic partition directories (the
        // Spark-native shape of per-host/per-day file naming; part files
        // inside a partition play the role of hdfs-append-enabled).
        def opt(k: String): Option[String] =
          kvOf(s.args, k).orElse(kvOf(s.args, k.replace('-', '_')))
        val uri = opt("hdfs-uri").getOrElse(
          throw new IllegalArgumentException("hdfs() needs hdfs-uri()"))
        val file = opt("hdfs-file").getOrElse(
          throw new IllegalArgumentException("hdfs() needs hdfs-file()"))
        val cols = route.df.columns.toSeq
        val body = Template.column(
          opt("template").getOrElse("${ISODATE} ${HOST} ${MSGHDR}${MSG}"), cols)
        val full = uri.stripSuffix("/") + "/" + file.stripPrefix("/")
        val firstMacro = full.indexOf('$')
        val baseDir =
          if (firstMacro < 0) full.substring(0, full.lastIndexOf('/'))
          else full.substring(0, full.lastIndexOf('/', firstMacro))
        val pathCols = "\\$\\{?([A-Z_]+)\\}?".r.findAllMatchIn(full)
          .map(m => colName(m.group(1))).filter(cols.contains).toSeq
        val out = route.df.withColumn("__hdfs_line", body)
          .select(pathCols.map(col) :+ col("__hdfs_line").as("value"): _*)
        graft.streaming.Sinks.foreachBatchPartitioned(
            out, baseDir, pathCols, checkpoint, format = "text")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      case Some(s) if s.name == "discord" =>
        // scl/discord/discord.conf: http POST of a format-json body —
        // content truncated at max-msg-length() (Discord's 2000-char
        // webhook cap), username/avatar_url/tts riding along as the
        // reference block always includes them
        val url = kvOf(s.args, "url").getOrElse(
          throw new IllegalArgumentException("discord() needs url()"))
        val cols = route.df.columns.toSeq
        def t(tmpl: String): Column = Template.column(tmpl, cols)
        val maxLen = kvOf(s.args, "max-msg-length").map(_.toInt).getOrElse(2000)
        val body = graft.operators.ValuePairs.formatFlatJson(map(
          lit("content"),
          t(kvOf(s.args, "template").getOrElse("${MSG:-[empty message]}"))
            .substr(lit(1), lit(maxLen)),
          lit("username"), t(kvOf(s.args, "username").getOrElse("")),
          lit("avatar_url"), t(kvOf(s.args, "avatar-url").getOrElse("")),
          lit("tts"), lit(kvOf(s.args, "tts").getOrElse("false"))))
        val http = graft.streaming.Sinks.HttpConfig(url,
          headers = Seq("Content-type" -> "application/json"))
        val df = route.df.withColumn("__body", body)
        graft.streaming.Sinks.httpSink(df, "__body", http, checkpoint)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      case Some(s) if s.name == "sumologic-http" =>
        // scl/sumologic/sumologic.conf sumologic-http(): http() POST to
        // the collector endpoint composed from deployment()+collector();
        // url() overrides for dev-mode stubs
        val url = kvOf(s.args, "url").getOrElse {
          val dep = kvOf(s.args, "deployment").getOrElse(
            throw new IllegalArgumentException(
              "sumologic-http() needs deployment() (or url())"))
          val collector = kvOf(s.args, "collector").getOrElse("")
          s"https://collectors.$dep.sumologic.com/receiver/v1/http/$collector"
        }
        val bodyT = kvOf(s.args, "body").getOrElse("$ISODATE $HOST $MSGHDR$MESSAGE")
        val http = graft.streaming.Sinks.HttpConfig(url,
          batchLines = kvOf(s.args, "batch-lines").map(_.toInt).getOrElse(1))
        val df = route.df.withColumn("__body",
          Template.column(bodyT, route.df.columns))
        graft.streaming.Sinks.httpSink(df, "__body", http, checkpoint)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      case Some(s) if s.name == "network" || s.name == "syslog" ||
          s.name == "loggly" || s.name == "sumologic-syslog" ||
          s.name == "graylog2" || s.name == "logmatic" ||
          s.name == "collectd" || s.name == "unix-stream" ||
          s.name == "network-load-balancer" || s.name == "graphite" ||
          s.name == "redis" || s.name == "stomp" || s.name == "smtp" =>
        startTcpRoute(route, s, checkpoint)
      case Some(s) if s.name == "elasticsearch-http" =>
        // scl/elasticsearch/elastic-http.conf: http() with an ndjson
        // _bulk body — per message an action line
        // {"index":{"_index":..,"_type":..,"_id":..}} (empty fields
        // omitted) + the rfc5424-scope JSON doc with @timestamp, both
        // newline-framed (body_suffix "\n", Content-Type x-ndjson,
        // batch_lines 100 default)
        val url = kvOf(s.args, "url").orElse(
          s.args.collectFirst { case Lit(u) => u }).getOrElse(
            throw new IllegalArgumentException("elasticsearch-http needs url()"))
        val cols = route.df.columns.toSeq
        def t(tmpl: String): Column = Template.column(tmpl, cols)
        def nonEmpty(m: Column): Column =
          map_filter(m, (_, v) => v.isNotNull && v =!= "")
        val action = graft.operators.ValuePairs.formatJson(nonEmpty(map(
          lit("index._index"), t(kvOf(s.args, "index").getOrElse("syslog")),
          lit("index._type"), t(kvOf(s.args, "type").getOrElse("")),
          lit("index._id"), t(kvOf(s.args, "custom-id").getOrElse("")))))
        val doc = kvOf(s.args, "template").map(t) .getOrElse {
          val sdata =
            if (cols.contains("values"))
              map_filter(col("values"), (k, _) => k.startsWith(".SDATA."))
            else map().cast("map<string,string>")
          graft.operators.ValuePairs.formatFlatJson(map_concat(
            nonEmpty(map(
              lit("FACILITY"), t("$FACILITY"), lit("HOST"), t("$HOST"),
              lit("ISODATE"), t("$ISODATE"), lit("MESSAGE"), t("$MESSAGE"),
              lit("MSGID"), t("$MSGID"), lit("PID"), t("$PID"),
              lit("PRIORITY"), t("$PRIORITY"), lit("PROGRAM"), t("$PROGRAM"),
              lit("@timestamp"), t("$ISODATE"))),
            sdata))
        }
        val http = graft.streaming.Sinks.HttpConfig(url,
          headers = Seq("Content-Type" -> "application/x-ndjson"),
          batchLines = kvOf(s.args, "batch-lines").map(_.toInt).getOrElse(100),
          batchTimeoutMs = kvOf(s.args, "batch-timeout").map(_.toLong).getOrElse(0L),
          bodySuffix = "\n")
        val df = route.df.withColumn("__body", concat(action, lit("\n"), doc))
        graft.streaming.Sinks.httpSink(df, "__body", http, checkpoint)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      case Some(s) if s.name == "program" =>
        // modules/afprog/afprog.c:525-545: template-rendered lines to
        // the stdin of `/bin/sh -c cmdline`; non-zero exit fails the
        // micro-batch for replay (at-least-once, like the socket sinks)
        val cmd = s.args.collectFirst { case Lit(c) => c }.getOrElse(
          throw new IllegalArgumentException("program() needs a command line"))
        // afprog runs the writer with LW_FORMAT_FILE (afprog.c:530):
        // the default line is the BSD-dated file format
        val tmpl = kvOf(s.args, "template").getOrElse("$DATE $HOST $MSGHDR$MESSAGE")
        val line = Template.column(tmpl, route.df.columns)
        val df = route.df.withColumn("__body",
          kvOf(s.args, "truncate-size").map(_.toInt)
            .fold(line)(n => Template.truncateOctets(line, n)))
        graft.streaming.ProgramSink.programSink(df, "__body", cmd, checkpoint)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      case Some(s) if s.name == "snmp" =>
        // modules/afsnmp/afsnmpdest.c: v2c/port 162/community "public"
        // defaults (:754-756); snmp-obj(oid type template) triplets in
        // configuration order, trap-obj() the snmpTrapOID varbind; v3
        // needs net-snmp USM — rejected loudly in the dev sink
        // any version other than v2c routes to the reference's v3
        // branch (afsnmpdest.c:490 strcasecmp else-arm), which needs
        // net-snmp USM and an engine-id — including typos like
        // version("FAKE") (test_snmp_destination_wrong_version.py
        // expects a start failure); the dev sink rejects them all
        if (kvOf(s.args, "version").exists(!_.equalsIgnoreCase("v2c")))
          throw new IllegalArgumentException(
            "snmp(): only version(v2c) is supported by the dev sink " +
              "(any other value selects the reference's v3/USM path)")
        val sCfg = graft.streaming.SnmpSink.Config(
          host = kvOf(s.args, "host").getOrElse(
            throw new IllegalArgumentException("snmp() needs host()")),
          port = kvOf(s.args, "port").map(_.toInt).getOrElse(162),
          community = kvOf(s.args, "community").getOrElse("public"))
        val cols = route.df.columns.toSeq
        def t(tmpl: String): Column = Template.column(tmpl, cols)
        val triplets = s.args.collect {
          case KV(n, Seq(Lit(oid), Lit(tpe), Lit(tpl)))
              if n == "snmp-obj" || n == "trap-obj" =>
            require(graft.streaming.SnmpSink.ObjTypes.contains(tpe.toLowerCase),
              s"snmp(): unknown object type $tpe")
            (oid, tpe, tpl)
        }
        require(triplets.nonEmpty, "snmp() needs at least one snmp-obj()")
        // trap-obj() is REQUIRED and must be objectid-typed
        // (afsnmpdest.c:783-793 "missing trap_obj" / "wrong trap
        // object type") — a config with only snmp-obj()s refuses to
        // start (test_snmp_destination_missing_trap_obj.py); the
        // inverse, trap-obj() alone, is legal and sends the
        // single-varbind "empty" trap
        val trapObj = s.args.collectFirst {
          case KV("trap-obj", Seq(Lit(_), Lit(tpe), Lit(_))) => tpe }
        require(trapObj.nonEmpty, "snmp(): missing trap_obj")
        require(trapObj.exists(_.equalsIgnoreCase("objectid")),
          s"snmp(): wrong trap object type: ${trapObj.get}")
        val df = route.df.withColumn("__objs", array(triplets.map {
          case (oid, tpe, tpl) =>
            struct(lit(oid).as("oid"), lit(tpe).as("tpe"), t(tpl).as("v"))
        }: _*))
        graft.streaming.SnmpSink.sink(df, sCfg, checkpoint,
          graft.streaming.SnmpSink.statsFor(route.destination))
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      case Some(s) if s.name == "amqp" =>
        // modules/afamqp: defaults vhost "/", 127.0.0.1:5672, exchange
        // "syslog", persistent(yes) → delivery-mode 2, templated
        // routing-key()/body(), SASL PLAIN; value-pairs → headers table
        // (afamqp.c:779-822, 617-652)
        val aCfg = graft.streaming.AmqpSink.Config(
          host = kvOf(s.args, "host").getOrElse("127.0.0.1"),
          port = kvOf(s.args, "port").map(_.toInt).getOrElse(5672),
          vhost = kvOf(s.args, "vhost").getOrElse("/"),
          exchange = kvOf(s.args, "exchange").getOrElse("syslog"),
          username = kvOf(s.args, "username").getOrElse("guest"),
          password = kvOf(s.args, "password").getOrElse("guest"),
          persistent = !kvOf(s.args, "persistent").contains("no"))
        val cols = route.df.columns.toSeq
        def t(tmpl: String): Column = Template.column(tmpl, cols)
        def nonEmpty(m: Column): Column =
          map_filter(m, (_, v) => v.isNotNull && v =!= "")
        val hdrMaps = Seq(
          if (cols.contains("values")) Some(col("values")) else None,
          if (cols.contains("sdata"))
            Some(graft.operators.ValuePairs.addPrefix(
              coalesce(col("sdata"), map().cast("map<string,string>")),
              ".SDATA."))
          else None).flatten
        val hdrs =
          if (hdrMaps.isEmpty) lit(null).cast("map<string,string>")
          else nonEmpty(hdrMaps.reduce((a, b) => map_concat(
            coalesce(a, map().cast("map<string,string>")),
            coalesce(b, map().cast("map<string,string>")))))
        val df = route.df
          .withColumn("__rk", t(kvOf(s.args, "routing-key").getOrElse("")))
          .withColumn("__headers", hdrs)
          .withColumn("__body", t(kvOf(s.args, "body").getOrElse("")))
        graft.streaming.AmqpSink.sink(df, aCfg, checkpoint)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      case Some(s) if s.name == "mongodb" =>
        // modules/afmongodb: uri default mongodb://127.0.0.1:27017/syslog,
        // collection("messages") templated, document = default value-pairs
        // (selected-macros + nv-pairs) with the leading-dot→underscore key
        // transform (afmongodb.c:208-215,324)
        val mCfg0 = graft.streaming.MongoSink.parseUri(
          kvOf(s.args, "uri").getOrElse("mongodb://127.0.0.1:27017/syslog"))
        val mCfg = mCfg0.copy(flushLines =
          kvOf(s.args, "flush-lines").map(_.toInt).getOrElse(100))
        val cols = route.df.columns.toSeq
        def t(tmpl: String): Column = Template.column(tmpl, cols)
        def nonEmpty(m: Column): Column =
          map_filter(m, (_, v) => v.isNotNull && v =!= "")
        // nv-pairs scope = values + sdata params under their .SDATA.
        // names (reference NV table layout), dot-keys renamed
        val nvMaps = Seq(
          if (cols.contains("values")) Some(col("values")) else None,
          if (cols.contains("sdata"))
            Some(graft.operators.ValuePairs.addPrefix(
              coalesce(col("sdata"), map().cast("map<string,string>")),
              ".SDATA."))
          else None).flatten
        val nvPairs =
          if (nvMaps.isEmpty) map().cast("map<string,string>")
          else transform_keys(
            nonEmpty(nvMaps.reduce((a, b) => map_concat(
              coalesce(a, map().cast("map<string,string>")),
              coalesce(b, map().cast("map<string,string>"))))),
            (k, _) => when(k.startsWith("."),
                concat(lit("_"), substring(k, 2, Int.MaxValue)))
              .otherwise(k))
        val doc = map_concat(
          nonEmpty(map(
            lit("DATE"), t("$DATE"), lit("FACILITY"), t("$FACILITY"),
            lit("HOST"), t("$HOST"), lit("MESSAGE"), t("$MESSAGE"),
            lit("PID"), t("$PID"), lit("PRIORITY"), t("$PRIORITY"),
            lit("PROGRAM"), t("$PROGRAM"))),
          nvPairs)
        val df = route.df
          .withColumn("__coll", t(kvOf(s.args, "collection").getOrElse("messages")))
          .withColumn("__doc", doc)
        graft.streaming.MongoSink.sink(df, mCfg, checkpoint)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      case Some(s) if s.name == "riemann" =>
        // modules/riemann: server/port defaults 127.0.0.1:5555
        // (riemann.c:262-264), host()/service()/event-time() template
        // defaults ${HOST}/${PROGRAM}/${UNIXTIME} (riemann.c:269-284);
        // state/description/metric/ttl sent only when configured; tags()
        // list else the message's tags; attributes("k" => "tpl") pairs
        val cols = route.df.columns.toSeq
        def t(tmpl: String): Column = Template.column(tmpl, cols)
        def opt(k: String): Column =
          kvOf(s.args, k).map(t).getOrElse(lit(null).cast("string"))
        val cfgTags = s.args.collectFirst { case KV("tags", vs) =>
          vs.collect { case Lit(v) => v } }.filter(_.nonEmpty)
        val attrs = s.args.collectFirst { case KV("attributes", vs) =>
          vs.collect { case KV(n, tv) =>
            (lit(n), t(tv.collect { case Lit(v) => v }.mkString(" "))) }
        }.getOrElse(Nil)
        val rCfg = graft.streaming.RiemannSink.Config(
          server = kvOf(s.args, "server").getOrElse("127.0.0.1"),
          port = kvOf(s.args, "port").map(_.toInt).getOrElse(5555),
          flushLines = kvOf(s.args, "flush-lines").map(_.toInt).getOrElse(100),
          timeMicros = kvOf(s.args, "event-time-unit")
            .exists(_.startsWith("micro")))
        val df = route.df
          .withColumn("__time",
            t(kvOf(s.args, "event-time").getOrElse("$UNIXTIME")).cast("long"))
          .withColumn("__state", opt("state"))
          .withColumn("__service",
            t(kvOf(s.args, "service").getOrElse("$PROGRAM")))
          .withColumn("__host", t(kvOf(s.args, "host").getOrElse("$HOST")))
          .withColumn("__desc", opt("description"))
          .withColumn("__tags", cfgTags
            .map(ts => array(ts.map(lit): _*))
            .getOrElse(col("tags")))
          .withColumn("__ttl", opt("ttl"))
          .withColumn("__attrs",
            if (attrs.isEmpty) lit(null).cast("map<string,string>")
            else map(attrs.flatMap { case (k, v) => Seq(k, v) }: _*))
          .withColumn("__metric", opt("metric"))
        graft.streaming.RiemannSink.sink(df, rCfg, checkpoint)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      case Some(s) if s.name == "mqtt" =>
        // modules/mqtt/destination: address(tcp://host:port), templated
        // topic() with fallback-topic() taken when the rendered topic
        // is empty or carries publish-invalid wildcard chars
        // (mqtt-worker.c topic validation), template() for the payload
        val (host, port) = graft.streaming.MqttSink.parseAddress(
          kvOf(s.args, "address").getOrElse("tcp://localhost:1883"))
        val cols = route.df.columns.toSeq
        def t(tmpl: String): Column = Template.column(tmpl, cols)
        val topicT = t(kvOf(s.args, "topic").getOrElse("syslog/${HOST}"))
        val fallback = kvOf(s.args, "fallback-topic").getOrElse("syslog/fallback")
        val topic = when(topicT.isNull || topicT === "" ||
            topicT.contains("#") || topicT.contains("+"), lit(fallback))
          .otherwise(topicT)
        val cfg = graft.streaming.MqttSink.Config(host, port,
          clientId = kvOf(s.args, "client-id").getOrElse("graft"),
          keepalive = kvOf(s.args, "keepalive").map(_.toInt).getOrElse(60),
          qos = kvOf(s.args, "qos").map(_.toInt).getOrElse(0))
        val df = route.df
          .withColumn("__topic", topic)
          .withColumn("__body",
            t(kvOf(s.args, "template").getOrElse("$ISODATE $HOST $MSGHDR$MESSAGE")))
        graft.streaming.MqttSink.sink(df, "__topic", "__body", cfg, checkpoint)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      case Some(s) if s.name == "pipe" =>
        // modules/affile/named-pipe.c destination side: rendered lines
        // written to the FIFO; the write blocks until a reader exists,
        // exactly like the reference's open
        val path = s.args.collectFirst { case Lit(p) => p }
          .orElse(kvOf(s.args, "path")).getOrElse(
            throw new IllegalArgumentException("pipe() needs a path"))
        // pipe() is an affile writer: LW_FORMAT_FILE (affile-dest.c:777)
        // -> the BSD-dated file line is the default
        val tmpl = kvOf(s.args, "template").getOrElse("$DATE $HOST $MSGHDR$MESSAGE")
        val df = route.df.withColumn("__body",
          Template.column(tmpl, route.df.columns))
        df.writeStream.foreachBatch {
            (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          // single-fd destination is inherently serial; toLocalIterator
          // streams one partition at a time so the driver never holds
          // the whole batch (same row order as collect)
          val fos = new java.io.FileOutputStream(path, true)
          try b.select("__body").toLocalIterator().forEachRemaining { r =>
            fos.write((r.getString(0) + "\n").getBytes(
              java.nio.charset.StandardCharsets.UTF_8))
          } finally fos.close()
        }
          .option("checkpointLocation", checkpoint)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      case Some(s) if s.name == "usertty" =>
        // modules/afuser/afuser.c: "<ts> <host> <message>\n" APPENDED
        // to the tty of every utmp entry matching the username
        // (O_APPEND|O_NONBLOCK, afuser.c:158). The utmp walk is host
        // env surface; the dev translation writes to
        // <tty-dir>/<username> (tty-dir() defaults /dev — tests
        // override), keeping the wire format and append semantics.
        val user = s.args.collectFirst { case Lit(u) => u }.getOrElse("*")
        val ttyDir = kvOf(s.args, "tty-dir").getOrElse("/dev")
        val target = s"$ttyDir/${if (user == "*") "tty" else user}"
        val df = route.df.withColumn("__body",
          Template.column("$FULLDATE $HOST $MESSAGE", route.df.columns))
        df.writeStream.foreachBatch {
            (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val fos = new java.io.FileOutputStream(target, true)
          try b.select("__body").toLocalIterator().forEachRemaining { r =>
            fos.write((r.getString(0) + "\n").getBytes(
              java.nio.charset.StandardCharsets.UTF_8))
          } finally fos.close()
        }
          .option("checkpointLocation", checkpoint)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      case Some(s) if s.name == "example-destination" =>
        // modules/examples/destinations/example_destination/
        // example_destination_worker.c:29-46: the worker appends
        // "thread_id=<tid> message=<MSG>\n" per message to filename()
        // (fopen "a"). The worker thread id maps to the writing
        // thread's id here — the python battery only greps for the
        // message part (read_until_logs), the tid is opaque.
        val path = kvOf(s.args, "filename").orElse(
          s.args.collectFirst { case Lit(p) => p }).getOrElse(
          throw new IllegalArgumentException(
            "example-destination() needs filename()"))
        route.df.writeStream.foreachBatch {
            (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val fos = new java.io.FileOutputStream(path, true)
          try b.select("message").toLocalIterator().forEachRemaining { r =>
            fos.write(("thread_id=" + Thread.currentThread().getId +
              " message=" + r.getString(0) + "\n").getBytes(
              java.nio.charset.StandardCharsets.UTF_8))
          } finally { fos.getFD.sync(); fos.close() }
        }
          .option("checkpointLocation", checkpoint)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      case Some(s) if s.name == "pseudofile" =>
        // modules/pseudofile/pseudofile.c: per message, open(O_WRONLY
        // |O_NONBLOCK) and write the template-rendered bytes — no
        // framing or newline is added and the fd is NOT opened with
        // O_APPEND (the driver targets /proc-style device files, so on
        // a regular file each message writes from offset 0)
        val path = s.args.collectFirst { case Lit(p) => p }
          .orElse(kvOf(s.args, "file")).getOrElse(
            throw new IllegalArgumentException("pseudofile() needs a path"))
        val tmpl = kvOf(s.args, "template").getOrElse("${MESSAGE}")
        val df = route.df.withColumn("__body",
          Template.column(tmpl, route.df.columns))
        df.writeStream.foreachBatch {
            (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.select("__body").toLocalIterator().forEachRemaining { r =>
            val fos = new java.io.FileOutputStream(path, false)
            try fos.write(r.getString(0).getBytes(
              java.nio.charset.StandardCharsets.UTF_8))
            finally fos.close()
          }
        }
          .option("checkpointLocation", checkpoint)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      case Some(s) =>
        // url("a" "b" ...) — multiple literals round-robin across
        // sending workers and fail over (http-loadbalancer.c,
        // scl/loadbalancer)
        val urlList = s.args.collectFirst { case KV("url", vs) => lits(vs) }
          .getOrElse(s.args.collect { case Lit(u) => u })
        val url = urlList.headOption.getOrElse(
          throw new IllegalArgumentException("http() destination needs url()"))
        // no body() -> the raw $MESSAGE value, NOT a formatted line
        // (http-worker.c:272-281: body_template unset appends
        // LM_V_MESSAGE verbatim)
        val bodyT = kvOf(s.args, "body").getOrElse("$MESSAGE")
        // azure-auth-header(workspace-id() secret() [method() path()
        // content-type()]) nests inside http() (azure-auth-header.c)
        val azure = s.args.collectFirst { case KV("azure-auth-header", vs) =>
          graft.streaming.Sinks.AzureAuth(
            workspaceId = kvOf(vs, "workspace-id").getOrElse(
              throw new IllegalArgumentException(
                "azure-auth-header() needs workspace-id()")),
            secretB64 = kvOf(vs, "secret").getOrElse(
              throw new IllegalArgumentException(
                "azure-auth-header() needs secret()")),
            method = kvOf(vs, "method").getOrElse("POST"),
            path = kvOf(vs, "path").getOrElse("/api/logs"),
            contentType = kvOf(vs, "content-type").getOrElse("application/json"))
        }
        val http = graft.streaming.Sinks.HttpConfig(url,
          urls = urlList,
          method = kvOf(s.args, "method").getOrElse("POST"),
          batchLines = kvOf(s.args, "batch-lines").map(_.toInt).getOrElse(1),
          batchBytes = kvOf(s.args, "batch-bytes").map(_.toInt).getOrElse(0),
          // batch-timeout() is milliseconds upstream (http-grammar.ym)
          batchTimeoutMs = kvOf(s.args, "batch-timeout").map(_.toLong)
            .getOrElse(0L),
          azureAuth = azure)
        val df = route.df.withColumn("__body",
          Template.column(bodyT, route.df.columns))
        graft.streaming.Sinks.httpSink(df, "__body", http, checkpoint)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      case None => startFileRoute(route, outDir, checkpoint)
    }

  private val destDrivers = Set("http", "elasticsearch-http", "network",
    "syslog", "loggly", "sumologic-http", "sumologic-syslog", "slack",
    "telegram", "discord", "graylog2", "logmatic", "collectd",
    "unix-stream", "network-load-balancer", "graphite", "pseudofile",
    "redis", "stomp", "smtp", "mqtt", "program", "usertty", "pipe",
    "riemann", "mongodb", "amqp", "snmp", "hdfs", "example-destination")

  /** network()/syslog() destinations and the scl composites over them
    * (`loggly()`, `sumologic-syslog()`, `graylog2()`, `logmatic()`,
    * `collectd()`, plus the raw `unix-stream()` driver): resolve the
    * target list (primary + `failover()` servers,
    * `afinet-dest-failover.c`) or the unix socket path
    * (`afunix-dest.c`), the wire template, and the framing — newline
    * for network(), RFC6587 octet-counted for syslog()
    * (`logproto-framed-client.c`), NUL for graylog2()'s GELF TCP. The
    * syslog() default wire format is RFC5424 with the SDATA field from
    * values ([[graft.operators.Scl.sdataBlocks]]); network() defaults
    * to the legacy `<PRI>DATE HOST MSGHDR MSG` line. */
  private def startTcpRoute(route: Route, s: Stmt, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val cols = route.df.columns.toSeq
    def t(tmpl: String): Column = Template.column(tmpl, cols)
    val userTemplate = kvOf(s.args, "template")
    var delimiter = "\n"
    var unixPath: Option[String] = None
    var greeting: Option[String] = None
    val (targets, octet, body) = s.name match {
      case "graylog2" =>
        // scl/graylog2/plugin.conf: network(transport(tcp)) with
        // template("$(format-gelf)") — the GELF 1.1 JSON with its own
        // trailing NUL ($(binary 0x00)), so no newline delimiter
        val host = kvOf(s.args, "host").getOrElse("127.0.0.1")
        val port = kvOf(s.args, "port").map(_.toInt).getOrElse(12201)
        delimiter = ""
        val line = userTemplate.map(t)
          .getOrElse(graft.operators.Scl.formatGelf(route.df.toDF()))
        (Seq(host -> port), false, line)
      case "logmatic" =>
        // scl/logmatic/logmatic.conf: network(tcp) with the API token
        // prefixed to an RFC5424 line, SDATA defaulting to "-"
        val token = kvOf(s.args, "token").getOrElse(
          throw new IllegalArgumentException("logmatic() needs token()"))
        val host = kvOf(s.args, "host").getOrElse("api.logmatic.io")
        val port = kvOf(s.args, "port").map(_.toInt).getOrElse(10514)
        val line = concat(
          lit(token + " "),
          t("<$PRI>1 $ISODATE ${HOST:--} ${PROGRAM:--} ${PID:--} ${MSGID:--} "),
          graft.operators.Scl.sdataBlocks(route.df.toDF()),
          lit(" "), t(userTemplate.getOrElse("$MSG")))
        (Seq(host -> port), false, line)
      case "collectd" =>
        // scl/collectd/plugin.conf: unix-stream() to the collectd
        // unixsock plugin, one `PUTVAL host/plugin[-inst]/type[-inst]
        // [interval=N] UNIXTIME:values` line per message; the
        // plugin/type instance and interval suffixes are the config-
        // level $(if) conditionals of the reference block
        val sockPath = kvOf(s.args, "socket")
          .getOrElse("/var/run/collectd-unixsock")
        unixPath = Some(sockPath)
        def dashed(base: String, inst: String): String =
          if (inst.isEmpty) base else s"$base-$inst"
        def kv2(a: String, b: String): Option[String] =
          kvOf(s.args, a).orElse(kvOf(s.args, b))
        val ident = dashed(kvOf(s.args, "plugin").getOrElse(
            throw new IllegalArgumentException("collectd() needs plugin()")),
            kv2("plugin_instance", "plugin-instance").getOrElse("")) + "/" +
          dashed(kvOf(s.args, "type").getOrElse(
            throw new IllegalArgumentException("collectd() needs type()")),
            kv2("type_instance", "type-instance").getOrElse(""))
        val interval = kvOf(s.args, "interval").getOrElse("60")
        val intervalPart = if (interval.isEmpty) "" else s" interval=$interval"
        val hostT = kvOf(s.args, "host").getOrElse("${HOST}")
        val values = kvOf(s.args, "values").getOrElse("U")
        val line = t(
          s"PUTVAL $hostT/$ident$intervalPart $${UNIXTIME}:$values")
        (Nil, false, line)
      case "unix-stream" =>
        // modules/afsocket/afunix-dest.c: newline text protocol over a
        // unix domain socket
        val sockPath = s.args.collectFirst { case Lit(p) => p }
          .orElse(kvOf(s.args, "path")).getOrElse(
            throw new IllegalArgumentException("unix-stream() needs a path"))
        unixPath = Some(sockPath)
        (Nil, false, t(userTemplate.getOrElse("<$PRI>$DATE $HOST $MSGHDR$MESSAGE")))
      case "network-load-balancer" =>
        // scl/loadbalancer/: confgen emits a junction of R_MSEC-modulo
        // channels over network() targets; here the modulo spread
        // lives in TcpSink.loadBalance (message-hash keyed — see the
        // Config scaladoc for the batch-replay rationale)
        val tgts = s.args.collectFirst { case KV("targets", vs) => lits(vs) }
          .getOrElse(throw new IllegalArgumentException(
            "network-load-balancer() needs targets()"))
        val port = kvOf(s.args, "port").map(_.toInt).getOrElse(514)
        val line = t(userTemplate.getOrElse("<$PRI>$DATE $HOST $MSGHDR$MESSAGE"))
        // targets are bare hosts in the reference (port rides the
        // shared parameters); a host:port form is accepted too
        val resolved = tgts.map { tgt =>
          tgt.lastIndexOf(':') match {
            case -1 => tgt -> port
            case i => tgt.substring(0, i) -> tgt.substring(i + 1).toInt
          }
        }
        (resolved, false, line)
      case "graphite" =>
        // scl/graphite/plugin.conf: network(tcp port(2003)) with
        // template("$(graphite-output `payload`)") — the plaintext
        // protocol, one `name value unixtime` line per selected pair.
        // payload() carries value-pairs cmdline args (`--key GLOB`);
        // graphite-output.c:113-115 adds a replace-prefix(".", "_")
        // transform so leading-dot internal keys stay valid metric
        // names. formatGraphite emits its own trailing newline, so the
        // sink delimiter is empty.
        val host = kvOf(s.args, "host").getOrElse("localhost")
        val port = kvOf(s.args, "port").map(_.toInt).getOrElse(2003)
        val globs = s.args.collectFirst { case KV("payload", vs) => lits(vs) }
          .getOrElse(Nil)
          .flatMap(_.split("\\s+").toSeq)
          .sliding(2).collect { case Seq("--key", g) => g }.toSeq
        val vp = graft.operators.ValuePairs
        val selected = vp.replacePrefix(
          vp.select(col("values"), if (globs.isEmpty) Seq("*") else globs),
          ".", "_")
        delimiter = ""
        (Seq(host -> port), false,
          vp.formatGraphite(selected, t("$UNIXTIME")))
      case "redis" =>
        // modules/redis/redis.c + redis-grammar.ym:79: `command("LPUSH"
        // "key" "$MSG" ...)` — every argument is a template; the
        // rendered argv goes out as one RESP multi-bulk array (the
        // hiredis wire format redisAppendCommandArgv produces):
        // `*<n>\r\n` then `$<bytes>\r\n<arg>\r\n` per argument.
        // auth() issues AUTH once per connection.
        val host = kvOf(s.args, "host").getOrElse("127.0.0.1")
        val port = kvOf(s.args, "port").map(_.toInt).getOrElse(6379)
        val cmd = s.args.collectFirst { case KV("command", vs) => lits(vs) }
          .getOrElse(Seq("LPUSH", "messages", "$MESSAGE"))
        delimiter = ""
        greeting = kvOf(s.args, "auth").map { a =>
          val n = a.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
          s"*2\r\n$$4\r\nAUTH\r\n$$$n\r\n$a\r\n"
        }
        val respBody = concat((lit(s"*${cmd.size}\r\n") +:
          cmd.flatMap { a =>
            val p = t(a)
            Seq(concat(lit("$"), octet_length(p).cast("string"), lit("\r\n")),
              concat(p, lit("\r\n")))
          }): _*)
        (Seq(host -> port), false, respBody)
      case "stomp" =>
        // modules/afstomp: CONNECT frame on connect (login/passcode
        // headers, afstomp.c:189-199), then one SEND frame per message
        // — `SEND\ndestination:..\n[persistent:true\n]<nv-pair
        // headers>\n\n<body>\0` (stomp.c create_gstring_from_frame;
        // value-pairs become frame headers via afstomp_vp_foreach).
        // Defaults from afstomp_dd_new: port 61613, destination
        // /topic/syslog, persistent yes. ack(yes)'s RECEIPT read is
        // not modeled (write-side only, like the rest of the dev sinks).
        val host = kvOf(s.args, "host").getOrElse("127.0.0.1")
        val port = kvOf(s.args, "port").map(_.toInt).getOrElse(61613)
        val dest = kvOf(s.args, "stomp-destination").getOrElse("/topic/syslog")
        val persistent = !kvOf(s.args, "persistent").contains("no")
        delimiter = "\u0000"
        greeting = Some("CONNECT\nlogin:" + kvOf(s.args, "username").getOrElse("") +
          "\npasscode:" + kvOf(s.args, "password").getOrElse("") + "\n\n\u0000")
        // nv-pair + sdata scopes become frame headers (afstomp_vp_foreach;
        // sdata params carry their .SDATA. names as in the reference NV table)
        val hdrMaps = Seq(
          if (route.df.columns.contains("values")) Some(col("values")) else None,
          if (route.df.columns.contains("sdata"))
            Some(graft.operators.ValuePairs.addPrefix(col("sdata"), ".SDATA."))
          else None).flatten
        val hdrs =
          if (hdrMaps.isEmpty) lit("")
          else concat(hdrMaps.map(m =>
            array_join(transform(map_entries(coalesce(m,
                map().cast("map<string,string>"))),
              e => concat(e.getField("key"), lit(":"),
                e.getField("value"), lit("\n"))), "")): _*)
        val stompBody = concat(
          lit("SEND\ndestination:" + dest + "\n" +
            (if (persistent) "persistent:true\n" else "")),
          hdrs, lit("\n"),
          kvOf(s.args, "body").map(t).getOrElse(lit("")))
        (Seq(host -> port), false, stompBody)
      case "smtp" =>
        // modules/afsmtp (defaults afsmtp_dd_new: 127.0.0.1:25):
        // from()/to()/subject()/body() templates; rendered as one
        // pipelined SMTP transaction per message (EHLO once per
        // connection) — write-side dialogue, responses not awaited
        // (dev-mode, like the reference's libesmtp fire-and-forget
        // batching).
        val host = kvOf(s.args, "host").getOrElse("127.0.0.1")
        val port = kvOf(s.args, "port").map(_.toInt).getOrElse(25)
        val from = kvOf(s.args, "from").getOrElse(
          throw new IllegalArgumentException("smtp() needs from()"))
        val to = kvOf(s.args, "to").getOrElse(
          throw new IllegalArgumentException("smtp() needs to()"))
        delimiter = ""
        greeting = Some("EHLO graft\r\n")
        val smtpBody = concat(
          lit("MAIL FROM:<"), t(from), lit(">\r\nRCPT TO:<"), t(to),
          lit(">\r\nDATA\r\nFrom: <"), t(from), lit(">\r\nTo: <"), t(to),
          lit(">\r\nSubject: "),
          t(kvOf(s.args, "subject").getOrElse("[LOG] $HOST: $MSG")),
          lit("\r\n\r\n"),
          t(kvOf(s.args, "body").getOrElse("$ISODATE $HOST $MSGHDR$MSG")),
          lit("\r\n.\r\n"))
        (Seq(host -> port), false, smtpBody)
      case "loggly" =>
        // scl/loggly/loggly.conf: network() with the token SD block
        val token = kvOf(s.args, "token").getOrElse(
          throw new IllegalArgumentException("loggly() needs token()"))
        val tag = kvOf(s.args, "tag").getOrElse("tag")
        val host = kvOf(s.args, "host").getOrElse("logs-01.loggly.com")
        val port = kvOf(s.args, "port").map(_.toInt).getOrElse(514)
        val line = concat(
          t("<$PRI>1 $ISODATE $HOST $PROGRAM $PID $MSGID "),
          lit(s"[$token@41058 tag=\"$tag\"] "),
          t(userTemplate.getOrElse("$MSG")))
        (Seq(host -> port), false, line)
      case "sumologic-syslog" =>
        // scl/sumologic/sumologic.conf sumologic-syslog()
        val token = kvOf(s.args, "token").getOrElse(
          throw new IllegalArgumentException("sumologic-syslog() needs token()"))
        val tag = kvOf(s.args, "tag").getOrElse("tag")
        val host = kvOf(s.args, "host").getOrElse {
          val dep = kvOf(s.args, "deployment").getOrElse(
            throw new IllegalArgumentException(
              "sumologic-syslog() needs deployment() (or host())"))
          s"syslog.collection.$dep.sumologic.com"
        }
        val port = kvOf(s.args, "port").map(_.toInt).getOrElse(6514)
        val line = concat(
          t("<$PRI>1 $ISODATE $HOST ${PROGRAM:--} ${PID:--} ${MSGID:--} "),
          lit(s"[$token tag=\"$tag\"] "),
          t(userTemplate.getOrElse("$MSG")))
        (Seq(host -> port), false, line)
      case proto =>
        val host = s.args.collectFirst { case Lit(h) => h }
          .orElse(kvOf(s.args, "host")).getOrElse(
            throw new IllegalArgumentException(s"$proto destination needs a host"))
        val port = kvOf(s.args, "port").map(_.toInt)
          .getOrElse(if (proto == "syslog") 601 else 514)
        val failover = s.args.collectFirst {
          case KV("failover", vs) => lits(vs)
        }.getOrElse(Nil)
        val body = userTemplate.map(t).getOrElse {
          if (proto == "syslog")
            // RFC5424 with real SDATA from values — the EWMM relay's
            // lossless wire format
            concat(
              t("<$PRI>1 $ISODATE $HOST ${PROGRAM:--} ${PID:--} ${MSGID:--} "),
              graft.operators.Scl.sdataBlocks(route.df.toDF()),
              lit(" "), t("$MSG"))
          else t("<$PRI>$DATE $HOST $MSGHDR$MESSAGE")
        }
        (((host -> port) +: failover.map(_ -> port)), proto == "syslog", body)
    }
    // transport(tls) + tls(ca-file()) on network()/syslog()
    // destinations (afinet-dest.c + transport-tls.c, client side)
    val tlsCa =
      if (!kvOf(s.args, "transport").contains("tls")) None
      else Some(s.args.collectFirst { case KV("tls", vs) => vs }
        .flatMap(vs => kvOf(vs, "ca-file")).getOrElse(
          throw new IllegalArgumentException(
            s"${s.name}: transport(tls) needs tls(ca-file())")))
    // transport(udp): datagram egress — no framing, no failover
    val isUdp = kvOf(s.args, "transport").contains("udp")
    val cfg = graft.streaming.TcpSink.Config(targets, octetCounted = octet && !isUdp,
      delimiter = delimiter, unixPath = unixPath,
      loadBalance = s.name == "network-load-balancer", greeting = greeting,
      tlsCaFile = tlsCa, udp = isUdp)
    // truncate-size() writer option (logwriter.c:1103) — octet cut on
    // the body; the frame delimiter survives (see truncateOctets doc)
    val bodyT = kvOf(s.args, "truncate-size").map(_.toInt)
      .fold(body)(n => Template.truncateOctets(body, n))
    val df = route.df.withColumn("__body", bodyT)
    graft.streaming.TcpSink.tcpSink(df, "__body", cfg, checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Start one route against its `file()` destination: the `$MACRO`
    * references in the destination path template become partition
    * columns (templated path = dynamic partitioning, SURVEY §2.9). */
  def startFileRoute(route: Route, outDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val path = route.dest.stmts.find(_.name == "file")
      .flatMap(_.args.collectFirst { case Lit(p) => p }).getOrElse("")
    val refs = "\\$([A-Z_]+)".r.findAllMatchIn(path).map(_.group(1)).toSeq
    val pathCols = refs.map(colName).filter(route.df.columns.contains)
    graft.streaming.Sinks.foreachBatchPartitioned(
        route.df.toDF(), outDir, pathCols, checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** A junction branch is a SOURCE branch iff its first pipe-producing
    * element is a source ELEMENT (cfg_tree_compile_sequence returns
    * no head for such sequences — cfg-tree.c:1008-1016; whatever
    * follows the source still hangs off its join pipe). An all-source
    * junction compiles with no head too (cfg-tree.c:1124-1146 leaves
    * fork_mpx unset), so a branch whose first element is a nested
    * junction is a source branch iff ALL that junction's channels are
    * source branches (ADVICE r13: these used to be misclassified as
    * non-source and the enclosing junction rejected as mixed). */
  private def isSourceBranch(path: Seq[LogElem]): Boolean =
    path.collectFirst {
      case Ref("source", _) => true
      case JunctionElem(chans) =>
        chans.nonEmpty && chans.forall(c => isSourceBranch(c.path))
      case _: Ref | _: InlineFilter | _: InlineStmt => false
    }.getOrElse(false)

  /** The cfg_tree_compile_sequence / _junction error surface
    * (cfg-tree.c:923-1178), validated up front exactly as the
    * reference's sequential compile discovers it:
    *  - catch-all only on top-level log statements (:934-941);
    *  - a source reference after a non-source element is an error
    *    (:1010-1014 "source-pipe follows a non-source one");
    *  - a junction mixing source and non-source branches is an error
    *    (:1124-1146). */
  private def validateLogPath(path: Seq[LogElem], toplevel: Boolean): Unit = {
    if (!toplevel) {
      val fl = path.collect { case Flags(f) => f }.flatten
      if (fl.contains("catchall") || fl.contains("catch-all"))
        throw new IllegalArgumentException("Error in configuration, " +
          "catch-all flag can only be specified for top-level log statements")
    }
    var nonSource = false
    path.foreach {
      case Ref("source", _) =>
        if (nonSource) throw new IllegalArgumentException(
          "Error compiling sequence, source-pipe follows a non-source " +
            "one, please list source references/definitions first")
      case Flags(_) => ()
      case JunctionElem(chans) =>
        chans.foreach { c =>
          if (c.flags.contains("catchall") || c.flags.contains("catch-all"))
            throw new IllegalArgumentException("Error in configuration, " +
              "catch-all flag can only be specified for top-level log statements")
          validateLogPath(c.path, toplevel = false)
        }
        val kinds = chans.map(c => isSourceBranch(c.path)).distinct
        if (kinds.size > 1) throw new IllegalArgumentException(
          "Error compiling junction, source and non-source branches are mixed")
        // an all-source junction compiles with NO head (the enclosing
        // sequence treats it as a source element); a non-source one
        // produces the fork head
        if (kinds.headOption.contains(false)) nonSource = true
      case _ => nonSource = true
    }
  }

  private def compileLog(cfg: Config, sources: Map[String, DataFrame],
      log: LogDecl): Seq[Route] = {
    validateLogPath(log.path, toplevel = true)
    val srcNames = log.path.collect { case Ref("source", n) => n }
    val flags = log.path.collect { case Flags(f) => f }.flatten
    require(sources.nonEmpty, "log path without source")
    val in =
      // cfg-tree.c:604 accepts both spellings
      if (flags.contains("catchall") || flags.contains("catch-all"))
        sources.values.reduce(_.unionByName(_, true))
      else srcNames.map(n => sources.getOrElse(n,
        throw new IllegalArgumentException(s"undeclared source $n")))
        .reduceOption(_.unionByName(_, allowMissingColumns = true))
        // a source-less, non-catch-all path is legal config (the
        // python_functional logpath battery asserts its destination
        // receives NOTHING) — an empty frame with the catch-all schema
        .getOrElse(sources.values.reduce(_.unionByName(_, true)).limit(0))
    // positional walk (cfg_tree_compile_sequence): a destination
    // captures the stream AT ITS POSITION — including inside junction
    // channels and embedded `log {}` statements, whose destinations the
    // flat collect used to drop silently
    val routes = scala.collection.mutable.ArrayBuffer.empty[(String, DataFrame)]
    def walk(in0: DataFrame, path: Seq[LogElem]): DataFrame = {
      var cur = in0
      path.foreach {
        case Ref("source", _) | Flags(_) => ()
        case Ref("destination", n) => routes += (n -> cur)
        case JunctionElem(chans) if chans.nonEmpty &&
            isSourceBranch(chans.head.path) =>
          // ALL-source junction (validateLogPath rejects mixed): each
          // branch reads its own sources, runs its body, and the
          // branches join — the sequence sees a source element
          // (cfg-tree.c: fork_mpx never created, tail = join_pipe)
          val joined = chans.map { c =>
            val srcs = c.path.collect { case Ref("source", n) =>
              sources.getOrElse(n, throw new IllegalArgumentException(
                s"undeclared source $n")) }
            // a channel may carry NO direct source refs when its head
            // is a nested all-source junction (ADVICE r13) — seed it
            // empty and let the recursive walk union the nested
            // junction's sources in
            walk(srcs.reduceOption(_.unionByName(_, allowMissingColumns = true))
              .getOrElse(sources.values
                .reduce(_.unionByName(_, true)).limit(0)),
              c.path)
          }
          cur = (cur +: joined).reduce(_.unionByName(_, allowMissingColumns = true))
        case JunctionElem(chans) =>
          // each channel body recurses so nested destinations route;
          // the channel's own filters fold into the delivery predicate
          // AND re-apply inside the body — idempotent
          cur = LogPath.compileJunctionWith(cur, channels(cfg, chans),
            (i, d, _) => walk(d, chans(i).path))
        case e => cur = LogPath.compile(cur, elem(cfg, e))
      }
      cur
    }
    walk(in, log.path)
    routes.toSeq.map { case (n, df) =>
      Route(n, cfg.destinations.getOrElse(n,
        throw new IllegalArgumentException(s"undeclared destination $n")), df)
    }
  }

  private def elem(cfg: Config, e: LogElem): Seq[LogPath.Element] = e match {
    case Ref("source", _) | Ref("destination", _) | Flags(_) => Nil
    // an undefined rule reference fails initialization loudly, like
    // filter_call_init's lookup miss (lib/filter/filter-call.c,
    // test_filter_call.c undefined_filter_ref)
    case Ref("filter", n) =>
      Seq(LogPath.Filter(filterCol(cfg, cfg.filters.getOrElse(n,
        throw new IllegalArgumentException(
          s"Referenced filter rule not found, rule=$n")).expr)))
    case Ref("parser", n) =>
      cfg.parsers.getOrElse(n, throw new IllegalArgumentException(
        s"Referenced parser rule not found, rule=$n"))
        .stmts.map(s => LogPath.Transform(parserFn(s, cfg)))
    case Ref("rewrite", n) =>
      cfg.rewrites.getOrElse(n, throw new IllegalArgumentException(
        s"Referenced rewrite rule not found, rule=$n"))
        .stmts.map(s => LogPath.Transform(rewriteFn(cfg, s)))
    case Ref(k, n) => throw new IllegalArgumentException(s"unsupported ref $k($n)")
    case InlineFilter(x) => Seq(LogPath.Filter(filterCol(cfg, x)))
    case InlineStmt("parser", s) => Seq(LogPath.Transform(parserFn(s, cfg)))
    case InlineStmt("rewrite", s) => Seq(LogPath.Transform(rewriteFn(cfg, s)))
    case InlineStmt(k, s) => throw new IllegalArgumentException(s"unsupported inline $k ${s.name}")
    case JunctionElem(chans) => Seq(LogPath.Junction(channels(cfg, chans)))
  }

  /** A junction's channels as `LogPath` channels named `ch<i>`, with the
    * `flags(final)` / `flags(fallback)` delivery flags. */
  private def channels(cfg: Config, chans: Seq[ChannelElem]): Seq[LogPath.Channel] =
    chans.zipWithIndex.map { case (c, i) =>
      LogPath.Channel(s"ch$i", c.path.flatMap(elem(cfg, _)),
        c.flags.flatMap {
          case "final" => Some(LogPath.Final)
          case "fallback" => Some(LogPath.Fallback)
          case _ => None
        }.toSet)
    }

  // ---- filters --------------------------------------------------------------
  private[config] def filterCol(cfg: Config, e: FilterExpr): Column =
    filterColTemplated(e, templateCol,
      name => filterCol(cfg, cfg.filters.getOrElse(name,
        throw new IllegalArgumentException(
          s"Referenced filter rule not found, rule=$name")).expr))

  /** Filter-expr compile with a pluggable template compiler — the same
    * grammar backs config `filter {}` blocks and template-level
    * `$(filter)` / `$(if)` conditions (which bind `$_`). */
  private[graft] def filterColTemplated(e: FilterExpr,
      tcol: String => Column,
      named: String => Column = n => throw new IllegalArgumentException(
        s"named filter $n not available in this context")): Column = e match {
    case FAnd(l, r) => filterColTemplated(l, tcol, named) && filterColTemplated(r, tcol, named)
    case FOr(l, r) => filterColTemplated(l, tcol, named) || filterColTemplated(r, tcol, named)
    case FNot(x) => !filterColTemplated(x, tcol, named)
    case FCmp(lhs, op, rhs) =>
      // symbolic ops = numeric family (atoi both sides, filter-cmp.c:46-60);
      // word ops (eq/lt/...) = byte-wise string compare
      if (ConfigParser.wordCmpOps(op))
        Filters.strCmp(tcol(lhs), op, tcol(rhs))
      else
        Filters.numCmp(Filters.atoi(tcol(lhs)), op, Filters.atoi(tcol(rhs)))
    case FCall(Stmt("filter", Seq(Lit(name)))) => named(name)
    case FCall(Stmt(name, args)) => primitive(name, args)
  }

  private def lits(args: Seq[Arg]): Seq[String] = args.collect { case Lit(v) => v }

  private def primitive(name: String, args: Seq[Arg]): Column = name match {
    case "severity" | "level" =>
      val spec = lits(args)
      if (spec.size == 1 && spec.head.contains("..")) {
        val Array(a, b) = spec.head.split("\\.\\.", 2)
        Filters.severityRange(a, b)
      } else Filters.severity(spec: _*)
    case "facility" => Filters.facility(lits(args): _*)
    case "host" => Filters.host(lits(args).head)
    case "program" => Filters.program(lits(args).head)
    case "message" => Filters.message(lits(args).head)
    case "match" =>
      val re = lits(args).head
      val target = args.collectFirst { case KV("value", vs) => lits(vs).head }
        .map(valueCol).getOrElse(col("message"))
      def mFlag(f: String) = args.exists {
        case KV("flags", vs) => lits(vs).contains(f); case _ => false }
      args.collectFirst { case KV("type", vs) => lits(vs).head }
        .getOrElse("pcre") match {
        case "string" => Filters.matchesString(re, target,
          prefix = mFlag("prefix"), substring = mFlag("substring"),
          icase = mFlag("ignore-case"))
        case "glob" => Filters.matchesGlob(re, target)
        case _ => Filters.matches(
          if (mFlag("ignore-case")) "(?iu)" + re else re, target)
      }
    case "netmask" => Filters.netmask(lits(args).head, col("srcip"))
    case "netmask6" => Filters.netmask6(lits(args).head, col("srcip"))
    case "tags" => Filters.tags(lits(args): _*)
    case "in-list" =>
      val target = valueCol(
        args.collectFirst { case KV("value", vs) => lits(vs).head }.getOrElse("MESSAGE"))
      val keys = lits(args)
      // documented form: in-list("/path/to/file", value($f)) loads one
      // key per line (filter-in-list.c:100); inline keys otherwise
      if (keys.size == 1 && java.nio.file.Files.isRegularFile(
          java.nio.file.Paths.get(keys.head)))
        Filters.inListFile(keys.head, target)
      else Filters.inList(keys, target)
    case other => throw new IllegalArgumentException(s"unsupported filter: $other")
  }

  // ---- parsers --------------------------------------------------------------
  /** wildcard-file()'s resolved surface (wildcard-source.c:439-456
    * defaults: max-files = DEFAULT_MAX_FILES = 100, monitor-method =
    * auto, recursive off; test_wildcard_source.c pins the whole
    * battery against this). */
  final case class WildcardSpec(baseDir: String, filenamePattern: String,
      maxFiles: Int, recursive: Boolean, monitorMethod: String) {
    def glob: String = s"${baseDir.stripSuffix("/")}/$filenamePattern"
  }

  /** Build a [[WildcardSpec]] from wildcard-file() args with the
    * reference's validation: base-dir checked FIRST, then
    * filename-pattern (_check_required_options order and messages,
    * wildcard-source.c:39-56); monitor-method must be auto/inotify/poll
    * ("Invalid monitor-method", :393-407). */
  private[graft] def wildcardSourceSpec(args: Seq[Arg],
      name: String): WildcardSpec = {
    val base = kvOf(args, "base-dir").getOrElse(
      throw new IllegalArgumentException(
        s"Error: base-dir option is required (source $name)"))
    val pat = kvOf(args, "filename-pattern").getOrElse(
      throw new IllegalArgumentException(
        s"Error: filename-pattern option is required (source $name)"))
    val mm = kvOf(args, "monitor-method").getOrElse("auto")
    if (!Seq("auto", "inotify", "poll").contains(mm))
      throw new IllegalArgumentException(
        s"Invalid monitor-method: $mm (source $name)")
    WildcardSpec(base, pat,
      maxFiles = kvOf(args, "max-files").map(_.toInt).getOrElse(100),
      recursive = kvOf(args, "recursive")
        .exists(v => Seq("yes", "on", "true", "1").contains(v.toLowerCase)),
      monitorMethod = mm)
  }

  /** The legacy wildcard file() split (wildcard_sd_legacy_new,
    * wildcard-source.c:470-482): g_path_get_dirname/g_path_get_basename
    * — no separator → dirname ".", a root-level path keeps "/"
    * (test_wildcard_source.c test_legacy_wildcard pins all nine
    * cases). */
  private[graft] def legacyWildcardSplit(path: String): (String, String) = {
    val i = path.lastIndexOf('/')
    if (i < 0) (".", path)
    else {
      val base = path.substring(i + 1)
      var end = i
      while (end > 0 && path.charAt(end - 1) == '/') end -= 1
      (if (end == 0) "/" else path.substring(0, end), base)
    }
  }

  /** A REPEATED option's last occurrence wins — every bison grammar
    * action overwrites the driver field (test_wildcard_source.c
    * test_option_duplication: `base-dir(/tmp) ... base-dir(/x)` keeps
    * /x; the old collectFirst kept the FIRST and diverged). */
  private def kvOf(args: Seq[Arg], key: String): Option[String] =
    args.collect { case KV(`key`, vs) => lits(vs).head }.lastOption

  private def parserFn(s: Stmt, cfg: Config = null): DataFrame => DataFrame = {
    val input = kvOf(s.args, "template").map(t => templateCol(t))
      .getOrElse(col("message"))
    s.name match {
      case "kv-parser" =>
        val prefix = kvOf(s.args, "prefix").getOrElse("")
        val vsep = kvOf(s.args, "value-separator").map(_.head).getOrElse('=')
        val psep = kvOf(s.args, "pair-separator").getOrElse(", ")
        df => df.withColumn("values", map_concat(
          mapOrEmpty(df), Parsers.kvParse(input, vsep, prefix, psep)))
      case "csv-parser" =>
        val cols = s.args.collectFirst { case KV("columns", vs) => lits(vs) }.get
        // delimiters("chars") | delimiters(chars("..") strings("a" "b"))
        val delimArgs = s.args.collectFirst { case KV("delimiters", vs) => vs }
          .getOrElse(Nil)
        val delim = delimArgs.collectFirst { case Lit(v) => v }
          .orElse(delimArgs.collectFirst { case KV("chars", cs) => lits(cs).mkString })
          .getOrElse(",")
        val strDelims = delimArgs.collectFirst {
          case KV("strings", ss) => lits(ss) }.getOrElse(Nil)
        val nullV = kvOf(s.args, "null-value")
        val quote = kvOf(s.args, "quote-pairs").map(_.take(1)).getOrElse("\"")
        val flags = s.args.collectFirst { case KV("flags", vs) => lits(vs) }
          .getOrElse(Nil)
        val dialect = kvOf(s.args, "dialect") match {
          case Some("escape-backslash") => "backslash"
          case Some("escape-none") => "none"
          case _ => "double-char"
        }
        val quotePairs = kvOf(s.args, "quote-pairs").getOrElse("\"\"''")
        val dropInvalid = kvOf(s.args, "drop-invalid").contains("yes")
        df => {
          // the faithful single-pass scanner (csv-scanner.c semantics:
          // multi quote pairs, string delimiters, per-dialect escapes,
          // strip/greedy/null-value interplay, drop-invalid gate)
          val parsed = graft.functions.CsvScan(input, cols, delim,
            stringDelims = strDelims, quotePairs = quotePairs,
            dialect = dialect, greedy = flags.contains("greedy"),
            stripWhitespace = flags.contains("strip-whitespace"),
            nullValue = nullV)
          val staged = df.withColumn("__csv", parsed)
          val withCols = cols.foldLeft(staged)((d, c) =>
            d.withColumn(c, col("__csv").getField(c)))
          val gated = if (dropInvalid) withCols.where(col("__csv.valid"))
            else withCols
          gated.drop("__csv")
        }
      case "json-parser" =>
        val prefix = kvOf(s.args, "prefix").getOrElse("")
        val xp = kvOf(s.args, "extract-prefix").getOrElse("")
        kvOf(s.args, "marker") match {
          // marker('@cee:') — strict message-prefix gate before the
          // JSON body (json-parser.c:223-233)
          case Some(m) => df => graft.operators.Scl.jsonWithMarker(df, m, prefix)
          case None => df => df.withColumn("values", map_concat(
            mapOrEmpty(df), coalesce(JsonFlatten(input, prefix, xp), map())))
        }
      case "xml-parser" =>
        // xml-grammar.ym:89-98: prefix, drop-invalid, exclude-tags,
        // strip-whitespaces, create-lists (lists default yes >=3.20)
        val prefix = kvOf(s.args, "prefix").getOrElse(".xml")
        val exclude = s.args.collect { case KV("exclude-tags", vs) => lits(vs) }.flatten
        def yes(k: String, dflt: Boolean) =
          kvOf(s.args, k).map(v => v == "yes" || v == "on" || v == "1")
            .getOrElse(dflt)
        val parsed = (df: DataFrame) => XmlFlatten(input, prefix, exclude,
          stripWhitespaces = yes("strip-whitespaces", dflt = false),
          createLists = yes("create-lists", dflt = true))
        df => {
          val withVals = df.withColumn("values", map_concat(
            mapOrEmpty(df), coalesce(parsed(df), map())))
          if (yes("drop-invalid", dflt = false))
            withVals.filter(parsed(df).isNotNull)
          else withVals
        }
      case "date-parser" =>
        // full date-parser() semantics (modules/timestamp/date-parser.c):
        // multi-format list, strftime zone names, year/field heuristics,
        // guess-timezone — the DateScan engine; no format() = ISO8601
        val fmts = s.args.collect { case KV("format", vs) => lits(vs) }.flatten
        val tz = kvOf(s.args, "timezone")
        val guess = s.args.exists {
          case KV("flags", vs) => lits(vs).contains("guess-timezone")
          case _ => false }
        val refNow = System.currentTimeMillis() / 1000
        df => {
          val d = graft.functions.DateScan(input, fmts, tz,
            java.util.TimeZone.getDefault.getID, refNow, guess)
          val prevTs =
            if (df.columns.contains("ts")) col("ts").cast("timestamp")
            else lit(null).cast("timestamp")
          df.withColumn("__date", d)
            .withColumn("ts", when(col("__date.ok"),
              timestamp_micros(col("__date.epoch") * 1000000L + col("__date.usec")))
              .otherwise(prevTs))
            .drop("__date")
        }
      case "syslog-parser" =>
        df => {
          // global options { bad-hostname("re") }: first token matching
          // the regex is never a hostname (msg-format.h bad_hostname)
          val bad = Option(cfg).flatMap(_.options.get("bad-hostname")).orNull
          val p =
            if (bad == null) GraftFunctions.parse_syslog(input)
            else GraftFunctions.parse_syslog(input, 2024, Nil, bad)
          df.withColumn("__p", p)
            .withColumn("host", col("__p.host"))
            .withColumn("program", col("__p.program"))
            .withColumn("message", col("__p.message"))
            .withColumn("facility", col("__p.facility"))
            .withColumn("severity", col("__p.severity"))
            .drop("__p")
        }
      case "tags-parser" =>
        // parsed tags ADD to whatever the message already carries
        // (tags-parser.c log_msg_set_tag_by_name per element;
        // test_tagsparser.c "tag-already-set" stays)
        df => df.withColumn("tags",
          if (df.columns.contains("tags"))
            array_union(coalesce(col("tags"), array().cast("array<string>")),
              Parsers.tagsParse(input))
          else Parsers.tagsParse(input))

      case "snmptrapd-parser" =>
        // modules/afsnmp: prefix(".snmp.") + set-message-macro(yes)
        val prefix = kvOf(s.args, "prefix").getOrElse(".snmp.")
        val setMsg = !kvOf(s.args, "set-message-macro").contains("no")
        df => Parsers.snmptrapdParser(df, prefix, setMsg)

      case "add-contextual-data" =>
        // add-contextual-data(selector("$T" | filters("f.conf")),
        // database("f.csv"), prefix(...), default-selector(...)) —
        // broadcast lookup join; the filters() selector form
        // (modules/add-contextual-data/add-contextual-data-filter-
        // selector.c) resolves to the NAME of the first matching named
        // filter, in the database's selector order
        val dbPath = kvOf(s.args, "database").getOrElse(
          throw new IllegalArgumentException("add-contextual-data needs database()"))
        val selArgs = s.args.collectFirst { case KV("selector", as) => as }
          .getOrElse(
            throw new IllegalArgumentException("add-contextual-data needs selector()"))
        val prefix = kvOf(s.args, "prefix").getOrElse("")
        val dflt = kvOf(s.args, "default-selector")
        val ignoreCase = kvOf(s.args, "ignore-case").contains("yes")
        // context-info-db.c import: the reference's own csv dialect,
        // whole-import failure on any malformed line, value column is
        // a template (3.21+) — parsed at CONFIG COMPILE time so a bad
        // db fails the load, like the reference's init
        val records = graft.operators.Enrich.parseContextDb(
          scala.jdk.CollectionConverters.ListHasAsScala(
            java.nio.file.Files.readAllLines(
              java.nio.file.Paths.get(dbPath))).asScala.toSeq, dbPath)
        df => {
          val sel = selArgs match {
            case Seq(KV("filters", fs)) =>
              val fcfg = ConfigParser.parseFile(lits(fs).head)
              // ordered filter names = db selectors in file order
              val names = records.map(_._1).distinct
              names.foldLeft(lit(null).cast("string")) { (acc, n) =>
                val fd = fcfg.filters.getOrElse(n,
                  throw new IllegalArgumentException(
                    s"add-contextual-data filters(): unknown filter $n"))
                coalesce(acc, when(filterCol(fcfg, fd.expr), lit(n)))
              }
            case Seq(Lit(t)) => Template.column(t, df.columns.toSeq)
            case other => throw new IllegalArgumentException(
              s"add-contextual-data: unsupported selector form $other")
          }
          graft.operators.Enrich.addContextualDataTemplated(
            df, records, sel, prefix, dflt, ignoreCase)
        }

      case "geoip2" =>
        // geoip2("$IP" prefix(".geoip2") database("x.mmdb")) —
        // modules/geoip2/geoip-parser.c: mmdb lookup, every record
        // field lands in values as prefix.dotted.path (trailing prefix
        // dot compacted, :181); doubles render %f (maxminddb-helper.c)
        val tmpl = lits(s.args).headOption.getOrElse(
          throw new IllegalArgumentException("geoip2 needs a template argument"))
        val dbPath = kvOf(s.args, "database").getOrElse(
          throw new IllegalArgumentException("geoip2 needs database()"))
        val prefix0 = kvOf(s.args, "prefix").getOrElse(".geoip2")
        val prefix = (if (prefix0.endsWith(".")) prefix0.dropRight(1) else prefix0) + "."
        df => {
          val db = graft.operators.Mmdb.open(dbPath)
          val fields = db.networks().flatMap(_._3.keys).distinct.sorted
          val ranges = graft.operators.Mmdb
            .toRangeTable(df.sparkSession, dbPath, fields)
            .select(col("lo") +: col("hi") +:
              fields.zipWithIndex.map { case (f, i) =>
                col(f.replace('.', '_')).as(s"__geo$i") }: _*)
          val joined = graft.operators.Enrich.ipRangeLookup(df, ranges,
            Template.column(tmpl, df.columns.toSeq))
          val add = map_filter(
            map(fields.zipWithIndex.flatMap { case (f, i) =>
              Seq(lit(prefix + f), col(s"__geo$i")) }: _*),
            (_, v) => v.isNotNull)
          joined.withColumn("values", mergedValues(joined, add))
            .drop(Seq("lo", "hi") ++ fields.indices.map(i => s"__geo$i"): _*)
        }

      case "db-parser" | "windows-eventlog-parser" =>
        // db-parser(file("x.pdb") [drop-unmatched(yes)]
        // [program-template("t")]) — patterndb XML compiled into the
        // codegen'd two-level automaton: ruleset selection by PROGRAM
        // pattern, then rule match (pdb_ruleset_lookup's shape — the
        // old flat RadixMatch ignored ruleset program scoping, so a
        // message whose program matched NO ruleset still classified;
        // found by the ported test_db_parser e2e, r12). captures land
        // in `values` with the reference's .classifier.* entries
        // alongside. program-template() overrides the program used for
        // ruleset selection (_calculate_program, pdb-ruleset.c:68-78).
        // windows-eventlog-parser() (scl/windowseventlog/plugin.conf)
        // is db-parser over the bundled windowseventlog.xml with
        // drop-unmatched(yes).
        val path = kvOf(s.args, "file").getOrElse {
          if (s.name == "windows-eventlog-parser") "windowseventlog.xml"
          else throw new IllegalArgumentException("db-parser needs file()")
        }
        val dropUnmatched = s.name == "windows-eventlog-parser" ||
          kvOf(s.args, "drop-unmatched").contains("yes")
        val loaded = graft.patterndb.PdbLoader.loadFile(path)
        val programCol = kvOf(s.args, "program-template")
          .map(t => templateCol(t))
        // rule-level <tags> apply to the matched message
        // (pdb-rule.c pdb_rule_apply -> synthetic_message tags)
        val tagRules = loaded.flatMap(_.rules).filter(_.tags.nonEmpty)
          .map(r => r.id -> r.tags)
        df => {
          val prog = programCol.getOrElse(
            if (df.columns.contains("program")) col("program") else lit(""))
          val d2 = df.withColumn("__r", graft.functions.PdbClassify(
            coalesce(prog, lit("")), coalesce(input, lit("")), loaded))
          val kept = if (dropUnmatched) d2.filter(col("__r.rule_id").isNotNull)
                     else d2
          val add = map_concat(col("__r.captures"),
            map(lit(".classifier.class"), col("__r.rule_class"),
              lit(".classifier.rule_id"), coalesce(col("__r.rule_id"), lit(""))))
          val tagged =
            if (tagRules.isEmpty) kept
            else {
              val tagMap = map(tagRules.flatMap { case (id, ts) =>
                Seq(lit(id), array(ts.map(lit(_)): _*)) }: _*)
              val existing =
                if (kept.columns.contains("tags"))
                  coalesce(col("tags"), array().cast("array<string>"))
                else array().cast("array<string>")
              kept.withColumn("tags", array_union(existing,
                coalesce(try_element_at(tagMap, col("__r.rule_id")),
                  array().cast("array<string>"))))
            }
          tagged.withColumn("values", mergedValues(tagged, add)).drop("__r")
        }

      case "grouping-by" =>
        // grouping-by(key() timeout() where() aggregate(value(n t)...)
        // having(...)) — groupingby.c:35-51 — sessionize per key with the
        // timeout gap, aggregate-value templates become Spark aggregates.
        // Init validation is grouping_by_init (groupingby.c:510-532)
        // quirk-for-quirk: aggregate(), an EXPLICIT timeout() >= 1, and
        // key() are each mandatory — the old compiler defaulted timeout
        // to 60 and aggregate to context-length, which the reference
        // rejects at init
        // validation ORDER is the reference's: aggregate, timeout, key
        val aggSpecs = s.args.collectFirst { case KV("aggregate", vs) =>
          vs.collect { case KV("value", as) =>
            val l = lits(as); (l.head, l(1)) }
        }.getOrElse(throw new IllegalArgumentException(
          "The aggregate() option for grouping-by() is mandatory"))
        val timeout = kvOf(s.args, "timeout").map(_.toInt).getOrElse(-1)
        if (timeout < 1) throw new IllegalArgumentException(
          "timeout() needs to be specified explicitly and must be greater than 0 in the grouping-by() parser")
        val keyT = kvOf(s.args, "key").getOrElse(throw new IllegalArgumentException(
          "The key() option is mandatory for the grouping-by() parser"))
        val whereCol = s.args.collectFirst {
          case KV("where", Seq(kv: KV)) => primitive(kv.key, kv.args)
          case KV("where", Seq(FilterArg(e))) =>
            filterColTemplated(e, t => templateCol(t))
        }.getOrElse(lit(true))
        val havingExpr = s.args.collectFirst { case KV("having", Seq(FilterArg(e))) => e }
        val sortKeyT = kvOf(s.args, "sort-key")
        df => {
          val resolve = graft.template.Macros.resolver(df.columns.toSet)
          val sortKey = sortKeyT.map(t => Template.column(t, df.columns.toSeq))
            .getOrElse(col("ts"))
          val aggs = aggSpecs.map { case (name, t) =>
            aggTemplate(t, resolve, sortKey).as(name) }
          val out = graft.operators.Sessions.groupingBy(df,
            Template.column(keyT, df.columns.toSeq), col("ts"), timeout,
            aggs, whereCol)
          havingExpr match {
            case None => out
            case Some(e) => out.filter(filterColTemplated(e,
              t => Template.compile(Template.parse(t),
                graft.template.Macros.resolver(out.columns.toSet))))
          }
        }

      // vendor scl parsers (scl/cisco, scl/checkpoint, scl/paloalto):
      // the reference composes these from csv/kv/date blocks in config
      // text; here each is one narrow codegen'd pipeline
      case "cisco-parser" =>
        val prefix = kvOf(s.args, "prefix").getOrElse(".cisco.")
        df => graft.operators.VendorParsers.cisco(df, prefix)
      case "checkpoint-parser" =>
        val prefix = kvOf(s.args, "prefix").getOrElse(".checkpoint.")
        df => graft.operators.VendorParsers.checkpoint(df, prefix)
      case "panos-parser" =>
        val prefix = kvOf(s.args, "prefix").getOrElse(".panos.")
        df => graft.operators.VendorParsers.panos(df, prefix)
      case "iptables-parser" =>
        val prefix = kvOf(s.args, "prefix").getOrElse(".iptables.")
        df => graft.operators.VendorParsers.iptables(df, prefix)
      case "sudo-parser" =>
        val prefix = kvOf(s.args, "prefix").getOrElse(".sudo.")
        df => graft.operators.VendorParsers.sudo(df, prefix)
      case "fortigate-parser" =>
        val prefix = kvOf(s.args, "prefix").getOrElse(".fortigate.")
        df => graft.operators.VendorParsers.fortigate(df, prefix)
      case "apache-accesslog-parser" =>
        val prefix = kvOf(s.args, "prefix").getOrElse(".apache.")
        df => graft.operators.VendorParsers.apacheAccesslog(df, prefix)

      case "netskope-parser" =>
        val prefix = kvOf(s.args, "prefix").getOrElse(".netskope.")
        df => graft.operators.VendorParsers.netskope(df, prefix)
      case "websense-parser" =>
        val prefix = kvOf(s.args, "prefix").getOrElse(".websense.")
        df => graft.operators.VendorParsers.websense(df, prefix)

      // scl composites (Scl.scala): the application-registry junction,
      // the ewmm/cee adapters and the flagship default-network-drivers
      case "app-parser" =>
        // app-parser(topic(T) auto-parse(yes/no) auto-parse-include()
        // auto-parse-exclude()) — app-parser-generator.c:155-215; user
        // `application name[topic]` blocks join the built-in registry
        val topic = kvOf(s.args, "topic").getOrElse("syslog")
        // cfg_process_yesno: yes/on/1 are true, everything else false
        val enabled = kvOf(s.args, "auto-parse")
          .forall(v => Set("yes", "on", "1").contains(v.toLowerCase))
        val include = kvOf(s.args, "auto-parse-include")
        val exclude = kvOf(s.args, "auto-parse-exclude")
        val userApps =
          if (cfg == null) Seq.empty
          else cfg.applications.filter(_.topic != "*")
            .filter(_.topic == topic).map { a =>
              // base-topic (*) inheritance per field
              // (app-parser-generator.c:40-58)
              val bse = if (cfg == null) None
                else cfg.applications.find(b =>
                  b.name == a.name && b.topic == "*")
              val fexpr = a.filter.orElse(bse.flatMap(_.filter))
              val pstmts =
                if (a.parser.nonEmpty) a.parser
                else bse.map(_.parser).getOrElse(Seq.empty)
              graft.operators.Scl.UserApp(a.name,
                fexpr.map(e => filterCol(cfg, e)),
                if (pstmts.isEmpty) None
                else Some(pstmts.map(p => parserFn(p, cfg))
                  .reduce((f, g) => f.andThen(g))))
            }
        df => graft.operators.Scl.appParserConfigured(df, topic, enabled,
          include, exclude, userApps)
      case "ewmm-parser" =>
        df => graft.operators.Scl.ewmmParser(df)
      case "extract-solaris-msgid" =>
        df => graft.operators.Scl.extractSolarisMsgid(df)
      case "cee-parser" =>
        val prefix = kvOf(s.args, "prefix").getOrElse(".cee.")
        df => graft.operators.Scl.ceeParser(df, prefix)
      case "default-network-drivers" =>
        df => graft.operators.Scl.defaultNetworkDrivers(df)

      case other => throw new IllegalArgumentException(s"unsupported parser: $other")
    }
  }

  /** Compile an aggregate-value template (grouping-by aggregate(value())):
    * context functions become Spark aggregates — $(context-length) →
    * count, $(sum/min/max/average $x) → the numeric aggs; field refs
    * become min(field) (a deterministic representative); literal text
    * concatenates. Everything egresses as string (reference values are
    * strings). */
  private def aggTemplate(t: String, resolve: String => Column,
      sortKey: Column = col("ts")): Column = {
    import graft.template.Template.{Func, Lit => TLit, Parsed, Ref}
    def guardNum(c: Column): Column = {
      // parse_dec_number: full-consume strtoll with range check — a
      // 20+-digit string is invalid (skipped), not an ANSI throw
      val s = c.cast("string")
      val d = when(s.rlike("^[+-]?[0-9]{1,38}$"), s.cast("decimal(38,0)"))
      when(d >= Long.MinValue && d <= Long.MaxValue, d.cast("long"))
    }
    def nodeAgg(n: graft.template.Template.Node): Column = n match {
      case TLit(s) => lit(s)
      case Ref(name, _, _) => min(resolve(name)).cast("string")
      case Func("context-length", _, _, _) => count(lit(1)).cast("string")
      case Func("context-values", args, _, _) =>
        // $(context-values $x) with sort-key() (groupingby.c:327) —
        // values of the context ordered by the sort key, comma-joined
        graft.operators.Sessions.sortedValues(argCol(args).cast("string"),
          sortKey.cast("string"))
      case Func(fn @ ("grep" | "context-lookup"), args0, raw0, _) =>
        // $(grep [-m N] condition $v...) / $(context-lookup condition
        // $v...) (cond-funcs.c:75-145, context-funcs.c:25-120): every
        // value argument of every context row matching the filter
        // expression, interleaved in sort-key order; -m/--max-count
        // caps the number of matching rows. context-lookup str-repr
        // quotes each element; grep joins the raw values (ADVICE r10).
        var maxCount: Option[Int] = None
        var (args, raw) = (args0, raw0)
        while (raw.headOption.exists(r => r == "-m" || r == "--max-count")) {
          maxCount = Some(raw(1).toInt)
          args = args.drop(2); raw = raw.drop(2)
        }
        val condText = {
          val t = raw.head.trim
          if (t.length >= 2 && (t.head == '\'' || t.head == '"') && t.last == t.head)
            t.substring(1, t.length - 1) else t
        }
        val cond = filterColTemplated(ConfigParser.parseFilterExpr(condText),
          s2 => Template.compile(Template.parse(s2), resolve))
        val vals = args.tail.map(p =>
          Template.compile(p, resolve).cast("string"))
        graft.operators.Sessions.sortedValuesMulti(
          when(cond, array(vals: _*)), sortKey.cast("string"), maxCount,
          quote = fn == "context-lookup")
      // all-invalid contexts render "" (the battery's full_invalid
      // case: _tf_num_filter returns FALSE -> empty result)
      case Func("sum", args, _, _) =>
        coalesce(sum(guardNum(argCol(args))).cast("string"), lit(""))
      case Func("min", args, _, _) =>
        coalesce(min(guardNum(argCol(args))).cast("string"), lit(""))
      case Func("max", args, _, _) =>
        coalesce(max(guardNum(argCol(args))).cast("string"), lit(""))
      case Func("average", args, _, _) =>
        coalesce(avg(guardNum(argCol(args))).cast("long").cast("string"), lit(""))
      case Func(name, _, _, _) => throw new IllegalArgumentException(
        s"unsupported aggregate template function $$($name)")
    }
    def argCol(args: Seq[Parsed]): Column =
      Template.compile(args.head, resolve)
    graft.template.Template.parse(t).nodes match {
      case Seq(one) => nodeAgg(one)
      case many => concat(many.map(nodeAgg): _*)
    }
  }

  /** Merge `add` into the values map, new keys win (set-value
    * semantics; also keeps map_concat safe under ANSI key dedup). */
  private def mergedValues(df: DataFrame, add: Column): Column = {
    val addM = coalesce(add, map().cast("map<string,string>"))
    map_concat(
      map_filter(mapOrEmpty(df), (k, _) => !array_contains(map_keys(addM), k)),
      addM)
  }

  private def mapOrEmpty(df: DataFrame): Column =
    if (df.columns.contains("values")) col("values")
    else map().cast("map<string,string>")

  // ---- rewrites -------------------------------------------------------------
  private def rewriteFn(cfg: Config, s: Stmt): DataFrame => DataFrame = {
    // condition(primitive(...)) arrives as a nested KV from the arg
    // grammar; compound conditions use a named filter: condition(filter(f))
    val cond: Column = s.args.collectFirst { case KV("condition", Seq(kv: KV)) =>
      filterCol(cfg, FCall(Stmt(kv.key, kv.args))) }.getOrElse(lit(true))
    s.name match {
      case "set" =>
        val tmpl = lits(s.args).head
        val field = kvOf(s.args, "value").getOrElse("MESSAGE")
        val tz = kvOf(s.args, "time-zone")
        df => Rewrites.set(df, colName(field),
          Template.column(tmpl, df.columns, tz,
            fracDigits = cfg.fracDigits), cond)
      case "subst" =>
        val Seq(re, repl) = lits(s.args).take(2)
        val field = kvOf(s.args, "value").getOrElse("MESSAGE")
        def flagSet(f: String) = s.args.exists {
          case KV("flags", vs) => lits(vs).contains(f); case _ => false }
        kvOf(s.args, "type").getOrElse("pcre") match {
          case "string" =>
            // literal matcher replace (log_matcher_string_replace); the
            // replacement is still a full template
            val mode = if (flagSet("prefix")) "prefix"
              else if (flagSet("substring")) "substring" else "exact"
            df => Rewrites.substString(df, colName(field), re,
              if (repl.contains("$")) Template.column(repl, df.columns)
              else lit(repl),
              mode = mode, icase = flagSet("ignore-case"),
              global = flagSet("global"), condition = cond)
          case _ =>
            // a register-only replacement ($N/${name} + literals) runs
            // per-match on the faithful PCRE engine; a replacement
            // reading real message macros renders per ROW and inserts
            // literally (rewrite-subst.c's LogTemplate replacement)
            if (graft.functions.PcreSubst.supportsReplacement(re, repl))
              df => Rewrites.subst(df, colName(field), re, repl,
                flagSet("global"), cond,
                storeMatches = flagSet("store-matches"),
                icase = flagSet("ignore-case"))
            else
              df => Rewrites.subst(df, colName(field), re,
                Template.column(repl, df.columns), flagSet("global"), cond,
                flagSet("store-matches"), icase = flagSet("ignore-case"))
        }
      case "groupset" =>
        // groupset("template" values("glob" ...)): the template may read
        // $_ (the old value) — compile per entry with `_` bound
        val tmpl = lits(s.args).head
        val globs = s.args.collectFirst { case KV("values", vs) => lits(vs) }
          .getOrElse(throw new IllegalArgumentException("groupset needs values()"))
        df => Rewrites.groupSet(df, old => Template.compile(
            Template.parse(tmpl),
            name => if (name == "_") old
            else graft.template.Macros.resolver(df.columns.toSet)(name)),
          globs, condition = cond)
      case "groupunset" =>
        val globs = s.args.collectFirst { case KV("values", vs) => lits(vs) }
          .getOrElse(throw new IllegalArgumentException("groupunset needs values()"))
        df => Rewrites.groupUnset(df, globs, condition = cond)
      case "set-pri" =>
        df => Rewrites.setPri(df, Template.column(lits(s.args).head, df.columns), cond)
      case "credit-card-mask" | "credit-card-hash" =>
        // scl/rewrite/cc-mask.conf: subst of the credit-card regex
        // with a computed replacement ($(substr)/$(sha1) of the match)
        val field = colName(kvOf(s.args, "value").getOrElse("MESSAGE"))
        if (s.name == "credit-card-mask")
          df => Rewrites.creditCardMask(df, field, cond)
        else
          df => Rewrites.creditCardHash(df, field, cond)
      case "unset" =>
        val field = kvOf(s.args, "value").getOrElse("MESSAGE")
        df => Rewrites.unset(df, colName(field))
      case "set-tag" => df => Rewrites.setTag(df, lits(s.args).head, cond)
      case "clear-tag" => df => Rewrites.clearTag(df, lits(s.args).head, cond)
      case "fix-time-zone" | "set-time-zone" | "guess-time-zone" =>
        // rewrite-fix-timezone.c / rewrite-set-timezone.c /
        // rewrite-guess-timezone.c: time-stamp(stamp|recvd) picks which
        // timestamp class the rewrite touches (default LM_TS_STAMP)
        val field = kvOf(s.args, "time-stamp") match {
          case Some("recvd") => "recvd_ts"
          case _ => "ts"
        }
        def zone = lits(s.args).headOption.getOrElse(
          throw new IllegalArgumentException(s"${s.name} needs a zone argument"))
        s.name match {
          case "fix-time-zone" =>
            df => Rewrites.fixTimeZone(df, field, zone, condition = cond)
          case "set-time-zone" =>
            df => Rewrites.setTimeZone(df, field, zone, cond)
          case _ => df => Rewrites.guessTimeZone(df, field,
            // real time ≈ arrival time in the reference's live loop
            if (df.columns.contains("recvd_ts")) col("recvd_ts")
            else current_timestamp(), cond)
        }
      case "set-severity" =>
        df => Rewrites.setSeverity(df, Template.column(lits(s.args).head, df.columns), cond)
      case "set-facility" =>
        df => Rewrites.setFacility(df, Template.column(lits(s.args).head, df.columns), cond)
      case other => throw new IllegalArgumentException(s"unsupported rewrite: $other")
    }
  }

  // ---- name resolution -------------------------------------------------------
  /** Builtin macro names → LogRecord columns (SURVEY §1.6). */
  private def colName(macroName: String): String = macroName match {
    case "HOST" => "host"; case "PROGRAM" => "program"; case "MESSAGE" | "MSG" => "message"
    case "PID" => "pid"; case "MSGID" => "msgid"
    case "FACILITY" => "facility"; case "SEVERITY" | "PRIORITY" => "severity"
    case other => other
  }

  private def valueCol(macroName: String): Column = col(colName(macroName))

  /** "$HOST-x" style operand: template-compile if it contains '$',
    * else literal. */
  private def templateCol(s: String): Column =
    if (s.contains("$")) Template.column(s, Seq("host", "program", "message",
      "pid", "msgid", "facility", "severity", "ts", "tags", "values"))
    else lit(s)
}
