package graft.streaming

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming scans (SURVEY §2.1). The reference tails files / listens on
  * sockets; the Spark-native forms are the Structured Streaming file
  * source (glob monitoring, position = checkpoint) and a Kafka topic for
  * network ingest. Framing (logproto) maps to `lineSep` and per-file
  * multi-line assembly.
  */
object Sources {

  /** file() / wildcard-file() (`modules/affile/affile-source.c:134-179`,
    * `wildcard-source.c:103-299`): glob-monitored line stream.
    * `maxFilesPerTrigger` is the fetch-limit analog (backpressure,
    * `lib/logreader.c:480`). Emits `value` (the raw line) plus
    * `source_file` lineage (filter source() support, filter-re.c:35). A
    * glob is a root per file; [[Spool.lines]] says why spools avoid it. */
  def fileLines(spark: SparkSession, glob: String,
      maxFilesPerTrigger: Int = 100): DataFrame =
    spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(glob)
      .withColumn("source_file", input_file_name())

  /** wildcard-file(recursive(yes)) (wildcard-source.c directory
    * monitors recursing into subdirectories): the file source walks
    * below base-dir with the name pattern applied per file. */
  def fileLinesRecursive(spark: SparkSession, baseDir: String,
      pattern: String, maxFilesPerTrigger: Int = 100): DataFrame =
    spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", pattern)
      .text(baseDir)
      .withColumn("source_file", input_file_name())

  /** The syslog source pipeline: lines → ParseSyslog struct columns.
    * Works on any lines DataFrame (streaming or batch) — the streaming
    * equivalent of msg_format_parse at the reader (`lib/msg-format.c:147`). */
  def parsedSyslog(lines: DataFrame, refYear: Int = 2024,
      flags: Seq[String] = Nil): DataFrame = {
    val p = GraftFunctions.parse_syslog(col("value"), refYear, flags)
    lines.withColumn("p", p).select(col("source_file"), col("p.*"))
  }

  /** The `/dev/kmsg` source pipeline: one-record-per-read lines →
    * [[graft.functions.KmsgScan]] columns, the `file("/dev/kmsg"
    * format("linux-kmsg"))` form the reference's `system()` block
    * generates on linux 3.5+ (`modules/linux-kmsg-format/
    * linux-kmsg-format.c`, `scl/system/generate-system-source.sh`).
    * PRI splits into facility/severity exactly like the syslog parse;
    * `.linux.*` pairs land in `values`; records the kernel format
    * rejects are dropped (the reference wraps them in an
    * `Error processing log message:` text — we keep the drop
    * semantics of our other format parsers). `bootUsec` anchors the
    * monotonic timestamps (`kmsg_to_absolute_time`). */
  def parsedKmsg(lines: DataFrame, bootUsec: Long = 0L): DataFrame = {
    val p = graft.functions.KmsgScan(col("value"), bootUsec)
    lines.withColumn("p", p)
      .where(col("p.ok"))
      .select(col("source_file"),
        shiftright(col("p.pri"), 3).as("facility"),
        col("p.pri").bitwiseAND(7).as("severity"),
        col("p.msgid"),
        col("p.message"),
        timestamp_micros(col("p.stamp_usec")).as("ts"),
        col("p.pairs").as("values"))
      .withColumn("program", lit("kernel"))
      .withColumn("tags", array().cast("array<string>"))
  }

  /** The process-accounting source pipeline (`scl/pacct/plugin.conf`:
    * `file(... format("pacct") tags(".pacct"))`): a captured pacct file
    * is a plain concatenation of 64-byte `acct_v3` structs
    * (`log_proto_binary_record_server_new(..., sizeof(acct_t))`,
    * pacct-format.c:166-171), so the streaming scan reads whole binary
    * files and explodes fixed-size records through
    * [[graft.functions.PacctScan]]. Malformed records keep the
    * reference behavior: the error text lands in `message` and no
    * `.pacct.*` pairs are set. */
  def pacctRecords(spark: SparkSession, glob: String): DataFrame = {
    import graft.functions.{BinaryChunks, PacctScan}
    spark.readStream.format("binaryFile")
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("modificationTime", org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("length", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.BinaryType))))
      .load(glob)
      .select(col("path").as("source_file"),
        explode(BinaryChunks(col("content"), PacctScan.RecordSize)).as("rec"))
      .withColumn("p", PacctScan(col("rec")))
      .select(col("source_file"),
        coalesce(col("p.message"), lit("")).as("message"),
        coalesce(col("p.pairs"), map().cast("map<string,string>")).as("values"))
      .withColumn("tags", array(lit(".pacct")))
  }

  /** systemd-journal() (`modules/systemd-journal/journal-reader.c`):
    * journal entries from capture files in the Journal Export Format
    * (`journalctl -o export` — the serialization of exactly the field
    * walk the live reader does). Field→macro mapping mirrors
    * `_map_key_value_pairs_to_syslog_macros` + `_set_program`
    * (journal-reader.c:156-238):
    *
    *  - `MESSAGE`→message, `_HOSTNAME`→host, `_PID`→pid;
    *  - `SYSLOG_FACILITY`/`PRIORITY` overwrite the default PRI's
    *    facility/severity bits with C atoi semantics (`:176,180`);
    *    default PRI is `LOG_LOCAL0|LOG_NOTICE` (facility 16 /
    *    severity 5, `DEFAULT_PRIO` journal-reader.c:45,863);
    *  - program = `SYSLOG_IDENTIFIER`, falling back to `_COMM`
    *    (`_set_program`, :225-238);
    *  - ts = `__REALTIME_TIMESTAMP` µs (`_set_message_timestamp`);
    *  - EVERY field (including the macro-mapped ones) also lands in
    *    `values` under `prefix()` (default `.journald.`,
    *    journal-reader.c:777), values truncated at `max-field-size`
    *    (`DEFAULT_FIELD_SIZE` 64k, :44,219 — character-based here
    *    where the reference counts bytes).
    */
  def journalEntries(spark: SparkSession, glob: String,
      prefix: String = ".journald.", maxFieldSize: Int = 64 * 1024): DataFrame = {
    import graft.functions.JournalExportScan
    import graft.operators.Filters
    val raw = spark.readStream.format("binaryFile")
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("modificationTime", org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("length", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.BinaryType))))
      .load(glob)
      .select(col("path").as("source_file"),
        explode(JournalExportScan(col("content"))).as("f"))
    def fv(k: String): Column = element_at(col("f"), k)
    raw.select(
      col("source_file"),
      coalesce(fv("MESSAGE"), lit("")).as("message"),
      fv("_HOSTNAME").as("host"),
      fv("_PID").as("pid"),
      coalesce(nullif(fv("SYSLOG_IDENTIFIER"), lit("")),
        fv("_COMM"), lit("")).as("program"),
      when(fv("SYSLOG_FACILITY").isNotNull,
        Filters.atoi(fv("SYSLOG_FACILITY")).cast("int"))
        .otherwise(16).as("facility"),
      when(fv("PRIORITY").isNotNull,
        Filters.atoi(fv("PRIORITY")).cast("int"))
        .otherwise(5).as("severity"),
      timestamp_micros(Filters.atoi(fv("__REALTIME_TIMESTAMP"))
        .cast("long")).as("ts"),
      transform_values(
        transform_keys(col("f"), (k, _) => concat(lit(prefix), k)),
        (_, v) => substring(v, 1, maxFieldSize)).as("values"))
      .withColumn("tags", array().cast("array<string>"))
  }

  /** Multi-line framing (`lib/logproto/logproto-regexp-multiline-server
    * .c`): records START at lines matching `startRe`; continuation lines
    * append with `\n`. Operates per file (records never span files, as
    * in the reference) via wholetext read — the batch form; streaming
    * multi-line needs file-grain triggers anyway (§7.4 risk 5).
    * Lines before the first start-match form one leading record. */
  def multilineRecords(spark: SparkSession, glob: String, startRe: String): DataFrame = {
    val whole = spark.read.option("wholetext", "true").text(glob)
      .withColumn("source_file", input_file_name())
    // split points = line starts matching startRe: prefix those lines
    // with \u0000 then split on it
    val marked = regexp_replace(col("value"),
      "(?m)^(" + startRe + ")", "\u0000$1")
    whole
      .select(col("source_file"),
        explode(filter(split(marked, "\u0000"), r => r =!= "")).as("record"))
      .withColumn("record", regexp_replace(col("record"), "\n$", ""))
  }

  /** Indented multi-line (`logproto-indented-multiline-server.c`):
    * continuation lines start with whitespace. */
  def indentedMultilineRecords(spark: SparkSession, glob: String): DataFrame =
    multilineRecords(spark, glob, "[^\\s]")

  /** Streaming form of [[multilineRecords]]: `readStream` with
    * `wholetext` keeps the per-file grain multi-line assembly needs
    * (records never span files, `logproto-regexp-multiline-server.c`),
    * and the split itself is the same stateless explode — this is the
    * `multi-line-mode(regexp|indented|prefix-garbage)` +
    * `multi-line-prefix()` surface of the config file() source and
    * the `mbox()` scl block (`scl/mbox/mbox.conf`: `multi-line-prefix
    * ('^From ')` + no-parse). Emits (source_file, value) like
    * [[fileLines]] so the downstream parse stages are shared. */
  def multilineStream(spark: SparkSession, glob: String, startRe: String,
      maxFilesPerTrigger: Int = 64, garbageRe: Option[String] = None,
      suffixRe: Option[String] = None,
      /** wildcard-file(recursive(yes)): (base-dir, name pattern) —
        * directory monitors recurse orthogonally to the framing proto */
      recursive: Option[(String, String)] = None): DataFrame = {
    val rdr = spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("wholetext", "true")
    val whole = (recursive match {
      case Some((base, pat)) => rdr.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", pat).text(base)
      case None => rdr.text(glob)
    }).withColumn("source_file", input_file_name())
    val marked = regexp_replace(col("value"),
      "(?m)^(" + startRe + ")", "\u0000$1")
    whole.select(col("source_file"),
      explode(filter(split(marked, "\u0000"), r => r =!= "")).as("value"))
      .withColumn("value", regexp_replace(col("value"), "\n$", ""))
      .withColumn("value", trimRecord(col("value"), garbageRe, suffixRe))
  }

  /** prefix-garbage / prefix-suffix multi-line trims
    * (`lib/logproto/logproto-regexp-multiline-server.c`,
    * tests/test-regexp-multiline-server.c): in garbage mode the first
    * garbage match and everything after it DROP ("Foo Line Bar" ->
    * "Foo Line"); in suffix mode the message ends AT the suffix match,
    * suffix kept ("prefix first suffix garbage" -> "prefix first
    * suffix"). The regexes anchor per line like the reference's
    * per-line scan. */
  private[graft] def trimRecord(rec: org.apache.spark.sql.Column,
      garbageRe: Option[String],
      suffixRe: Option[String]): org.apache.spark.sql.Column =
    (garbageRe, suffixRe) match {
      case (Some(g), _) =>
        regexp_replace(rec, "(?sm)" + g + ".*\\z", "")
      case (_, Some(sfx)) =>
        regexp_replace(rec, "(?sm)(" + sfx + ").*\\z", "$1")
      case _ => rec
    }

  /** Lines decoded from a declared charset (the `encoding()` source
    * option, lib/logreader options): the file reads as bytes and
    * decodes via [[graft.functions.CharsetDecode]] (Spark's text reader
    * and `decode` only speak the ANSI shortlist — syslog sources
    * regularly declare iso-8859-x / windows-125x).
    *
    * Line semantics are the text server's (test-text-server.c:80-160):
    * an interior empty line IS a message ("a\n\nb" fetches "a", "",
    * "b" — the old filter dropped them), a payload without a trailing
    * newline still flushes its partial last line as a message, and
    * only the post-split artifact of one trailing newline drops (an
    * empty payload yields no messages). */
  /** A binaryFile batch read over either a glob or a recursive
    * (base-dir, pattern) walk — the shared opener for the
    * pad-size()/encoding() forms under wildcard-file(recursive(yes)). */
  private def binaryRead(spark: SparkSession, glob: String,
      recursive: Option[(String, String)]): DataFrame = recursive match {
    case Some((base, pat)) => spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true").option("pathGlobFilter", pat)
      .load(base)
    case None => spark.read.format("binaryFile").load(glob)
  }

  def fileLinesEncoded(spark: SparkSession, glob: String,
      charset: String): DataFrame =
    fileLinesEncoded(spark, glob, charset, None)

  def fileLinesEncoded(spark: SparkSession, glob: String,
      charset: String, recursive: Option[(String, String)]): DataFrame = {
    val decoded = graft.functions.GraftFunctions.charset_decode(
      col("content"), charset)
    binaryRead(spark, glob, recursive)
      .select(col("path").as("source_file"), decoded.as("__dec"))
      .filter(length(col("__dec")) > 0)
      .select(col("source_file"),
        explode(split(
          regexp_replace(col("__dec"), "\r?\n\\z", ""), "\r?\n", -1))
          .as("value"))
  }

  /** Fixed-size record framing (`lib/logproto/logproto-record-server.c`,
    * the `pad-size()` source option): the payload splits into
    * `recordSize`-byte records; each record cuts at its first NUL (the
    * padded server's C-string read — a record STARTING with NUL is "")
    * and trailing whitespace padding strips. A short trailing record is
    * dropped (the reference raises LPS_ERROR "couldn't read enough
    * bytes"; a batch scan skips it). */
  def paddedRecords(spark: SparkSession, glob: String,
      recordSize: Int): DataFrame = paddedRecords(spark, glob, recordSize, None)

  /** With `charset`: the encoded padded-record form
    * (test-record-server.c:107-176) — record boundaries stay on RAW
    * bytes, each FULL record decodes as one frame (an incomplete
    * multi-byte sequence inside a record fails loudly: "Byte sequence
    * too short, cannot convert an individual frame in its entirety"),
    * and the decoded text strips trailing whitespace. The NUL C-string
    * cut applies ONLY to the unencoded form — UCS-4 records are full
    * of NUL bytes that are data, not padding. */
  def paddedRecords(spark: SparkSession, glob: String,
      recordSize: Int, charset: Option[String]): DataFrame =
    paddedRecords(spark, glob, recordSize, charset, None)

  def paddedRecords(spark: SparkSession, glob: String,
      recordSize: Int, charset: Option[String],
      recursive: Option[(String, String)]): DataFrame = {
    require(recordSize > 0, "pad-size must be positive")
    val raw = binaryRead(spark, glob, recursive)
      .select(col("path").as("source_file"), col("content"))
    if (charset.isDefined) {
      val cs = charset.get
      return raw.select(col("source_file"),
          explode(graft.functions.BinaryChunks(col("content"), recordSize))
            .as("rec"))
        // a short TRAILING record is the same LPS_ERROR as the
        // unencoded form; the batch scan skips it
        .filter(length(col("rec")) === recordSize)
        .select(col("source_file"),
          regexp_replace(
            graft.functions.GraftFunctions.charset_decode_frame(col("rec"), cs),
            "\\s+$", "").as("value"))
    }
    val n = floor(length(col("content")) / recordSize).cast("int")
    // sequence(0, -1) would generate a DESCENDING range on an empty
    // file — guard the record count explicitly
    val idxs = when(n >= 1, sequence(lit(0), n - 1))
      .otherwise(array().cast("array<int>"))
    raw.select(col("source_file"),
        explode(transform(idxs,
          i => substring(col("content"), i * recordSize + 1, lit(recordSize))
            .cast("string"))).as("value"))
      .withColumn("value",
        regexp_replace(substring_index(col("value"), "\u0000", 1),
          "\\s+$", ""))
  }

  /** RFC6587 octet-counted framing (`logproto-framed-server.c`): whole
    * payload files (the shape TCP relay capture or a Kafka value takes)
    * split into `NNN <bytes>` frames — see
    * [[graft.functions.FramedRecords]] for the edge semantics. */
  def framedRecords(spark: SparkSession, glob: String,
      maxMsgSize: Int = 65536, trimLargeMessages: Boolean = true): DataFrame =
    spark.read.option("wholetext", "true").text(glob)
      .withColumn("source_file", input_file_name())
      .select(col("source_file"),
        explode(graft.functions.FramedRecords(col("value"), maxMsgSize,
          trimLargeMessages)).as("record"))

  /** example-msg-generator() (`modules/examples/sources/msg-generator/
    * msg-generator-source.c:109-131`, options `msg-generator-source-
    * options.h:89-140`): emits one message per `freq()` interval,
    * bounded by `num()`; MESSAGE is the `template()` render (default
    * `-- Generated message. --`) and each `values(name => template)`
    * pair lands as a name-value before the message template is
    * rendered, matching `_send_generated_message`'s order (pairs
    * first, then the message template sees them). The Spark-native
    * timer is the `rate` streaming source (one row per tick at
    * 1/freq rows/sec); `num()` bounds via the monotone tick index.
    * The value templates render against the frame BEFORE the pairs
    * exist (the reference iterates a fresh `log_msg_new_empty()`),
    * so they may use macros but not each other. */
  def msgGenerator(spark: SparkSession, template: Option[String] = None,
      freqMs: Long = 1000L, num: Int = 0,
      values: Seq[(String, String)] = Nil): DataFrame = {
    import graft.template.Template
    // the rate source takes an integral rowsPerSecond ≥ 1, so freq()
    // above one second coarsens to one row/sec (num() still bounds the
    // total; this is a dev/example driver, not a precision timer)
    val rps = math.max(1L, math.round(1000.0 / math.max(1L, freqMs)))
    val base = spark.readStream.format("rate")
      .option("rowsPerSecond", rps).load()
      .select(col("timestamp").as("ts"), col("value").as("seq"))
    val bounded = if (num > 0) base.where(col("seq") < num) else base
    val empty = bounded
      .withColumn("source_file", lit("msg-generator"))
      .withColumn("message", lit("-- Generated message. --"))
      .withColumn("tags", array().cast("array<string>"))
      .withColumn("values", map().cast("map<string,string>"))
    val baseCols = empty.columns.toSeq
    // values() pairs apply via log_msg_set_value_by_name
    // (msg-generator-source.c:105): a BUILTIN macro name routes to the
    // builtin field — values("PROGRAM" => "x") sets the program the
    // db-parser ruleset selection reads (test_db_parser.py) — while
    // everything else lands in the name-value map
    val builtin = Map("PROGRAM" -> "program", "HOST" -> "host",
      "PID" -> "pid", "MSGID" -> "msgid", "MESSAGE" -> "message",
      "MSG" -> "message")
    val (colPairs, mapPairs) = values.partition(p => builtin.contains(p._1))
    val withCols = colPairs.foldLeft(empty) { case (d, (n, tpl)) =>
      d.withColumn(builtin(n), Template.column(tpl, baseCols))
    }
    val paired =
      if (mapPairs.isEmpty) withCols
      else withCols.withColumn("values", map_concat(col("values"),
        map(mapPairs.flatMap { case (n, tpl) =>
          Seq(lit(n), Template.column(tpl, baseCols))
        }: _*)))
    template.fold(paired)(t => paired.withColumn("message",
      Template.column(t, paired.columns.toSeq)))
  }
}
