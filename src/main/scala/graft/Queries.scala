package graft

import graft.functions.{GraftFunctions, JsonFlatten, RadixMatch, XmlFlatten}
import graft.dsl.LogPath
import graft.operators.{Enrich, Filters, Parsers, Rewrites, Sessions, ValuePairs}
import graft.pipeline.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.template.Template
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The declared query inventory: one entry per implemented operator
  * (SURVEY.md §2), each with a DuckDB-runnable oracle where the semantics
  * are SQL-expressible.
  *
  * Conventions for oracle parity (driver hashes values after sorting
  * columns by name):
  *  - double aggregations go through DECIMAL(18,2) so Spark and DuckDB sums
  *    are exact and identical, then cast back to DOUBLE;
  *  - timestamps are never returned raw (ns vs us width): they egress as
  *    epoch seconds (BIGINT) or formatted strings;
  *  - every query ends in a deterministic total ORDER BY.
  */
object Queries {
  case class Q(name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  // ---------------------------------------------------------------------
  // Aggregation core (grouping-by analog on batch: SURVEY §2.4 grouping-by,
  // §2.8 numeric context functions sum/min/max/average)
  // ---------------------------------------------------------------------
  private val aggStats = Q("agg_stats",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some("""SELECT l_returnflag, l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      COUNT(*) AS count_order
      FROM lineitem GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""))

  // ---------------------------------------------------------------------
  // Filters (SURVEY §2.3): severity/facility class predicates
  // ---------------------------------------------------------------------
  private val filterSeverity = Q("filter_severity",
    (s, d) => {
      val ev = Tables.events(s, d)
      // events have no syslog pri; derive one deterministically, then apply
      // the reference's severity(<=err) + facility(in set) bitmask semantics
      ev.withColumn("severity", (col("event_id") % 8).cast("int"))
        .withColumn("facility", (col("user_id") % 24).cast("int"))
        .filter(col("severity") <= 3 && col("facility").isin(0, 1, 4, 10))
        .select(col("event_id"), col("facility"), col("severity"), col("event_type"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id, CAST(user_id % 24 AS INT) AS facility,
      CAST(event_id % 8 AS INT) AS severity, event_type
      FROM events
      WHERE event_id % 8 <= 3 AND user_id % 24 IN (0, 1, 4, 10)
      ORDER BY event_id"""))

  // ---------------------------------------------------------------------
  // Enrichment lookup join (SURVEY §2.4 add-contextual-data): broadcast
  // hash join against a small dimension
  // ---------------------------------------------------------------------
  private val enrichLookup = Q("enrich_lookup",
    (s, d) => {
      val ev = Tables.events(s, d)
      val nation = Tables.nation(s, d)
      ev.withColumn("nkey", (col("user_id") % 25).cast("int"))
        .join(broadcast(nation), col("nkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_events"),
          sum(dec(col("value"))).cast("double").as("sum_value"))
        .orderBy(col("n_name"))
    },
    Some("""SELECT n_name, COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events JOIN nation ON CAST(user_id % 25 AS INT) = n_nationkey
      GROUP BY n_name ORDER BY n_name"""))

  // ---------------------------------------------------------------------
  // Filters (SURVEY §2.3): regex match, netmask, in-list semi-join
  // ---------------------------------------------------------------------
  private val filterMatch = Q("filter_match",
    (s, d) => Tables.events(s, d)
      .filter(Filters.matches("\"k\": 1[0-9]$", regexp_replace(col("props"), "[{}]", "")))
      .select(col("event_id"), col("props"))
      .orderBy(col("event_id")),
    Some("""SELECT event_id, props FROM events
      WHERE regexp_matches(regexp_replace(props, '[{}]', '', 'g'), '"k": 1[0-9]$')
      ORDER BY event_id"""))

  private val filterNetmask = Q("filter_netmask",
    (s, d) => {
      // synthesize a source IP, then CIDR-filter it (filter-netmask.c)
      val ev = Tables.events(s, d).withColumn("srcip",
        concat(lit("10."), (col("user_id") % 256).cast("string"), lit("."),
          (col("event_id") % 256).cast("string"), lit(".5")))
      ev.filter(Filters.netmask("10.3.0.0/16", col("srcip")))
        .select(col("event_id"), col("srcip"))
        .orderBy(col("event_id"))
    },
    // oracle computes membership independently of the ip-int arithmetic
    Some("""SELECT event_id, '10.' || (user_id % 256) || '.' || (event_id % 256) || '.5' AS srcip
      FROM events WHERE user_id % 256 = 3 ORDER BY event_id"""))

  private val filterNetmask6 = Q("filter_netmask6",
    (s, d) => {
      val ev = Tables.events(s, d).withColumn("srcip6",
        concat(lit("2001:db8:0:"), lower(hex(col("user_id") % 16)), lit("::"),
          (col("event_id") % 9 + 1).cast("string")))
      ev.filter(Filters.netmask6("2001:db8:0:5::/64", col("srcip6")))
        .select(col("event_id"), col("srcip6"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id,
      '2001:db8:0:' || lower(to_hex(user_id % 16)) || '::' || (event_id % 9 + 1) AS srcip6
      FROM events WHERE user_id % 16 = 5 ORDER BY event_id"""))

  private val filterInList = Q("filter_in_list",
    (s, d) => {
      val ev = Tables.events(s, d)
      val keys = Tables.customer(s, d)
        .filter(col("c_acctbal") > 5000).select(col("c_custkey"))
      Filters.inListJoin(ev, keys, col("user_id"))
        .select(col("event_id"), col("user_id"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id, user_id FROM events
      WHERE user_id IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
      ORDER BY event_id"""))

  // ---------------------------------------------------------------------
  // Rewrites (SURVEY §2.5): subst first/global, set-tag
  // ---------------------------------------------------------------------
  private val rewriteSubst = Q("rewrite_subst",
    (s, d) => {
      val docs = Tables.documents(s, d).withColumnRenamed("text", "message")
      val g = Rewrites.subst(docs, "message", "spark", "SPARK", global = true)
        .withColumnRenamed("message", "msg_global")
      val f = Rewrites.subst(docs, "message", "spark", "SPARK")
        .select(col("doc_id").as("fid"), col("message").as("msg_first"))
      g.join(f, col("doc_id") === col("fid"))
        .select(col("doc_id"), md5(col("msg_global")).as("h_global"),
          md5(col("msg_first")).as("h_first"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, md5(regexp_replace(text, 'spark', 'SPARK', 'g')) AS h_global,
      md5(regexp_replace(text, 'spark', 'SPARK')) AS h_first
      FROM documents ORDER BY doc_id"""))

  // ---------------------------------------------------------------------
  // credit-card-mask() (scl/rewrite/cc-mask.conf): the regex-detected
  // PAN keeps first 6 + last 4 digits around a literal ******. The
  // oracle computes the expected masked string analytically from the
  // same synthesized card — a detection or rebuild failure on the
  // Spark side diverges immediately.
  // ---------------------------------------------------------------------
  private val rewriteCcMask = Q("rewrite_cc_mask",
    (s, d) => {
      val ev = Tables.events(s, d)
      val id = col("event_id")
      val card16 = concat(lit("54"),
        lpad((id % 100000000000000L).cast("string"), 14, "0"))
      val card15 = concat(lit("34"),
        lpad((id % 10000000000000L).cast("string"), 13, "0"))
      val msg = when(id % 3 === 0,
          concat(lit("charge card="), card16, lit(" amount=12")))
        .when(id % 3 === 1, concat(lit("amex "), card15, lit(" approved")))
        .otherwise(lit("no pan here"))
      val in = ev.select(id.as("event_id"), msg.as("message"))
      Rewrites.creditCardMask(in).orderBy(col("event_id"))
    },
    Some("""SELECT event_id,
      CASE WHEN event_id % 3 = 0 THEN
             'charge card=' || substr(card16, 1, 6) || '******' ||
             substr(card16, -4) || ' amount=12'
           WHEN event_id % 3 = 1 THEN
             'amex ' || substr(card15, 1, 6) || '******' ||
             substr(card15, -4) || ' approved'
           ELSE 'no pan here' END AS message
      FROM (SELECT event_id,
        '54' || lpad(cast(event_id % 100000000000000 AS varchar), 14, '0')
          AS card16,
        '34' || lpad(cast(event_id % 10000000000000 AS varchar), 13, '0')
          AS card15 FROM events)
      ORDER BY event_id"""))

  private val rewriteSetTag = Q("rewrite_set_tag",
    (s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("severity", (col("event_id") % 8).cast("int"))
        .withColumn("tags", array(lit("base")))
      val tagged = Rewrites.setTag(
        Rewrites.setTag(ev, "alert", col("severity") <= 3),
        "err", col("event_type") === "error")
      tagged.filter(Filters.tags("alert", "err"))
        .select(col("event_id"), array_join(col("tags"), ",").as("tags"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id,
      'base' || CASE WHEN event_id % 8 <= 3 THEN ',alert' ELSE '' END
             || CASE WHEN event_type = 'error' THEN ',err' ELSE '' END AS tags
      FROM events WHERE event_id % 8 <= 3 OR event_type = 'error'
      ORDER BY event_id"""))

  // ---------------------------------------------------------------------
  // Template engine (SURVEY §2.8): macros + format line
  // ---------------------------------------------------------------------
  private def syslogishEvents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("host", concat(lit("h"), col("user_id")))
      .withColumn("program", col("event_type"))
      .withColumn("message", concat(lit("u="), col("user_id")))
      .withColumn("facility", (col("user_id") % 24).cast("int"))
      .withColumn("severity", (col("event_id") % 8).cast("int"))
      .withColumn("tsn", col("ts")).drop("ts")
      .withColumn("ts", Tables.tsMicros(col("tsn")))

  private val templateFormat = Q("template_format",
    (s, d) => {
      val ev = syslogishEvents(s, d)
      ev.select(col("event_id"),
        Template.column("<$PRI>$DATE $HOST $PROGRAM: $MESSAGE", ev.columns).as("line"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id,
      '<' || ((user_id % 24) * 8 + event_id % 8) || '>' ||
      strftime(ts, '%b') || ' ' || lpad(CAST(day(ts) AS VARCHAR), 2, ' ')
      || ' ' || strftime(ts, '%H:%M:%S') || ' h' || user_id || ' ' ||
      event_type || ': u=' || user_id AS line
      FROM events ORDER BY event_id"""))

  private val templateFuncs = Q("template_funcs",
    (s, d) => {
      val docs = Tables.documents(s, d)
      docs.select(col("doc_id"),
        Template.column("$(md5 $text)", docs.columns).as("h"),
        Template.column("$(uppercase $(substr $text 0 10))", docs.columns).as("head10"),
        Template.column("$(length $text)", docs.columns).as("len"),
        Template.column("$(+ $n_chars 10)", docs.columns).as("plus10"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, md5(text) AS h, upper(substring(text, 1, 10)) AS head10,
      CAST(length(text) AS STRING) AS len, CAST(n_chars + 10 AS STRING) AS plus10
      FROM documents ORDER BY doc_id"""))

  /** Template HOFs $(map)/$(filter)/$(iterate) — tf-map.c / tf-filter.c /
    * tf-iterate.c (registered basic-funcs.c:138-140): comma-lists in and
    * out, element bound as $_, filter takes a filter expression. */
  private val templateHofs = Q("template_hofs",
    (s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("list", concat_ws(",",
          col("event_id") % 5, col("event_id") % 7, col("event_id") % 11))
        .withColumn("start", (col("event_id") % 3).cast("string"))
      val cols = Seq("event_id", "list", "start")
      ev.select(col("event_id"),
          Template.column("$(map \"$(+ 1 $_)\" $list)", cols).as("mapped"),
          Template.column("$(filter ('$_' < '5') $list)", cols).as("filtered"),
          Template.column("$(iterate \"$(+ 2 $_)\" $start 3)", cols).as("iterated"))
        .orderBy(col("event_id"))
    },
    Some("""WITH base AS (
        SELECT event_id,
          CAST(event_id % 5 AS VARCHAR) || ',' || CAST(event_id % 7 AS VARCHAR)
            || ',' || CAST(event_id % 11 AS VARCHAR) AS lst,
          event_id % 3 AS st
        FROM events)
      SELECT event_id,
        array_to_string(list_transform(string_split(lst, ','),
          x -> CAST(CAST(x AS BIGINT) + 1 AS VARCHAR)), ',') AS mapped,
        array_to_string(list_filter(string_split(lst, ','),
          x -> CAST(x AS BIGINT) < 5), ',') AS filtered,
        CAST(st AS VARCHAR) || ',' || CAST(st + 2 AS VARCHAR) || ',' ||
          CAST(st + 4 AS VARCHAR) AS iterated
      FROM base ORDER BY event_id"""))

  // ---------------------------------------------------------------------
  // Syslog parsing (SURVEY §2.2): construct lines from events, parse back,
  // verify against independently-computed fields
  // ---------------------------------------------------------------------
  private val parseSyslogRfc3164 = Q("parse_syslog_rfc3164",
    (s, d) => {
      val ev = syslogishEvents(s, d)
      val line = concat(
        lit("<"), ((col("user_id") % 24) * 8 + col("event_id") % 8).cast("string"), lit(">"),
        date_format(col("ts"), "MMM dd HH:mm:ss"), lit(" "),
        col("host"), lit(" "), col("program"),
        lit("["), (col("event_id") % 1000).cast("string"), lit("]: "),
        col("message"))
      val p = GraftFunctions.parse_syslog(line, 2024)
      ev.select(col("event_id"), p.as("p"))
        .select(col("event_id"),
          col("p.facility").as("facility"), col("p.severity").as("severity"),
          col("p.host").as("host"), col("p.program").as("program"),
          col("p.pid").as("pid"), col("p.message").as("message"),
          unix_timestamp(col("p.ts")).as("ts_sec"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id,
      CAST(user_id % 24 AS INT) AS facility, CAST(event_id % 8 AS INT) AS severity,
      'h' || user_id AS host, event_type AS program,
      CAST(event_id % 1000 AS STRING) AS pid, 'u=' || user_id AS message,
      CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS ts_sec
      FROM events ORDER BY event_id"""))

  private val parseSyslogRfc5424 = Q("parse_syslog_rfc5424",
    (s, d) => {
      val ev = syslogishEvents(s, d)
      val kv = regexp_extract(col("props"), "\"k\": (\\d+)", 1)
      val line = concat(
        lit("<"), ((col("user_id") % 24) * 8 + col("event_id") % 8).cast("string"), lit(">1 "),
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"), lit(" "),
        col("host"), lit(" "), col("program"), lit(" "),
        col("event_id").cast("string"), lit(" ID"), (col("event_id") % 100).cast("string"),
        lit(" [ev k=\""), kv, lit("\"] "), col("message"))
      val p = GraftFunctions.parse_syslog(line, 2024)
      ev.select(col("event_id"), p.as("p"))
        .select(col("event_id"),
          col("p.version").as("version"), col("p.host").as("host"),
          col("p.program").as("program"), col("p.pid").as("pid"),
          col("p.msgid").as("msgid"),
          element_at(col("p.sdata"), "ev.k").as("sd_k"),
          col("p.message").as("message"),
          unix_micros(col("p.ts")).as("ts_us"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id, 1 AS version, 'h' || user_id AS host,
      event_type AS program, CAST(event_id AS STRING) AS pid,
      'ID' || (event_id % 100) AS msgid,
      regexp_extract(props, '"k": (\d+)', 1) AS sd_k,
      'u=' || user_id AS message,
      CAST(epoch_ns(ts) // 1000 AS BIGINT) AS ts_us
      FROM events ORDER BY event_id"""))

  /** STRICT RFC5424 (r9): `flags(syslog-protocol)` — the reference's
    * log_msg_parse_syslog_proto with field caps and parse-error
    * injection (syslog-format.c:883-, msg-format.c:41-64). Five input
    * shapes per event_id%5: well-formed SD, a bad SD value (unescaped
    * quote), a >48-char APP-NAME (truncates, does not error), all-nil
    * fields, and a space-after-bracket SD error. The oracle replays
    * EVERYTHING in DuckDB — including the byte-exact
    * "Error processing log message: ...>@<..." injection with the
    * marker at the reference's problem position, pri 43 and program
    * "syslog-ng" — so a hash match proves the strict mode end to end. */
  private val parseSyslogStrict = Q("parse_syslog_strict",
    (s, d) => {
      val ev = Tables.events(s, d)
      val uid = col("user_id").cast("string")
      val eid = col("event_id").cast("string")
      val priS = ((col("user_id") % 24) * 8 + col("event_id") % 8).cast("string")
      val modS = (col("event_id") % 100).cast("string")
      val m = col("event_id") % 5
      val base = concat(lit("<"), priS, lit(">1 2024-01-12T03:04:05.123456Z h"),
        uid, lit(" app"), eid, lit(" "), eid, lit(" ID"), modS, lit(" "))
      val sdVal = (col("event_id") % 97).cast("string")
      val line =
        when(m === 0, concat(base, lit("[ev k=\""), sdVal, lit("\"] u="), uid))
        .when(m === 1, concat(base, lit("[ev k=\"\"boom\"] u="), uid))
        .when(m === 2, concat(lit("<"), priS, lit(">1 2024-01-12T03:04:05.123456Z h"),
          uid, lit(" app"), eid, lit("x" * 60), lit(" "), eid, lit(" ID"), modS,
          lit(" - u="), uid))
        .when(m === 3, concat(lit("<"), priS, lit(">1 - - - - - - u="), uid))
        .otherwise(concat(base, lit("[ ev k=\"1\"] u="), uid))
      val p = GraftFunctions.parse_syslog(line, 2024, Seq("syslog-protocol"))
      ev.select(col("event_id"), p.as("p"))
        .select(col("event_id"),
          col("p.pri").as("pri"), col("p.version").as("version"),
          col("p.host").as("host"), col("p.program").as("program"),
          col("p.pid").as("pid"), col("p.msgid").as("msgid"),
          element_at(col("p.sdata"), "ev.k").as("sd_k"),
          unix_micros(col("p.ts")).as("ts_us"),
          col("p.message").as("message"))
        .orderBy(col("event_id"))
    },
    Some("""WITH g AS (
        SELECT event_id, user_id, event_id % 5 AS m,
          (user_id % 24) * 8 + event_id % 8 AS pri0,
          '<' || ((user_id % 24) * 8 + event_id % 8) || '>1 2024-01-12T03:04:05.123456Z h'
            || user_id || ' app' || event_id || ' ' || event_id
            || ' ID' || (event_id % 100) || ' ' AS base
        FROM events)
      SELECT event_id,
        CASE WHEN m IN (1, 4) THEN 43 ELSE pri0 END AS pri,
        CASE WHEN m IN (1, 4) THEN 0 ELSE 1 END AS version,
        CASE WHEN m IN (1, 4) THEN '' WHEN m = 3 THEN NULL
          ELSE 'h' || user_id END AS host,
        CASE WHEN m IN (1, 4) THEN 'syslog-ng' WHEN m = 3 THEN NULL
          WHEN m = 2 THEN substr('app' || event_id || repeat('x', 60), 1, 48)
          ELSE 'app' || event_id END AS program,
        CASE WHEN m IN (0, 2) THEN CAST(event_id AS VARCHAR) END AS pid,
        CASE WHEN m IN (0, 2) THEN 'ID' || (event_id % 100) END AS msgid,
        CASE WHEN m = 0 THEN CAST(event_id % 97 AS VARCHAR) END AS sd_k,
        CASE WHEN m IN (0, 2) THEN
          CAST(epoch_ns(TIMESTAMP '2024-01-12 03:04:05.123456') // 1000 AS BIGINT)
          END AS ts_us,
        CASE WHEN m = 1 THEN 'Error processing log message: ' || base
               || '[ev k=">@<"boom"] u=' || user_id
             WHEN m = 4 THEN 'Error processing log message: ' || base
               || '>@<[ ev k="1"] u=' || user_id
             ELSE 'u=' || user_id END AS message
      FROM g ORDER BY event_id"""))

  // ---------------------------------------------------------------------
  // Routing (SURVEY §2.6): junction with final + fallback flags
  // ---------------------------------------------------------------------
  private val routeJunction = Q("route_junction",
    (s, d) => {
      val ev = Tables.events(s, d)
      // final+final+catch-rest compiles to disjoint predicates (if/elif/else)
      LogPath.compileJunction(ev, Seq(
        LogPath.Channel("err", Seq(LogPath.Filter(col("event_type") === "error")),
          Set(LogPath.Final)),
        LogPath.Channel("big", Seq(LogPath.Filter(col("value") > 100)),
          Set(LogPath.Final)),
        LogPath.Channel("other", Nil)))
        .select(col("event_id"), col("__channel").as("branch"))
        .orderBy(col("event_id"), col("branch"))
    },
    Some("""SELECT event_id,
      CASE WHEN event_type = 'error' THEN 'err'
           WHEN value > 100 THEN 'big' ELSE 'other' END AS branch
      FROM events ORDER BY event_id, branch"""))

  // ---------------------------------------------------------------------
  // patterndb (SURVEY §2.4 db-parser): radix classification with typed
  // captures over synthesized auth log lines
  // ---------------------------------------------------------------------
  private val pdbRules = Seq(
    ("ssh-fail", "security",
      "Failed password for @ESTRING:username: @from @IPvANY:client_addr@ port @NUMBER:port@ ssh2"),
    ("ssh-accept", "security",
      "Accepted @ESTRING:auth_method: @for @ESTRING:username: @from @IPvANY:client_addr@ port @NUMBER:port@ ssh2"))

  private val patterndbClassify = Q("patterndb_classify",
    (s, d) => {
      val ev = Tables.events(s, d)
      val addr = concat(lit("10.0."), (col("user_id") % 256).cast("string"),
        lit("."), (col("event_id") % 256).cast("string"))
      val port = (lit(1000) + col("event_id") % 1000).cast("string")
      val line = when(col("event_type") === "error",
        concat(lit("Failed password for u"), col("user_id"), lit(" from "),
          addr, lit(" port "), port, lit(" ssh2")))
        .otherwise(
          concat(lit("Accepted password for u"), col("user_id"), lit(" from "),
            addr, lit(" port "), port, lit(" ssh2")))
      ev.select(col("event_id"), RadixMatch(line, pdbRules).as("m"))
        .select(col("event_id"), col("m.rule_id").as("rule_id"),
          col("m.rule_class").as("rule_class"),
          element_at(col("m.captures"), "username").as("username"),
          element_at(col("m.captures"), "client_addr").as("client_addr"),
          element_at(col("m.captures"), "port").as("port"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id,
      CASE WHEN event_type = 'error' THEN 'ssh-fail' ELSE 'ssh-accept' END AS rule_id,
      'security' AS rule_class,
      'u' || user_id AS username,
      '10.0.' || (user_id % 256) || '.' || (event_id % 256) AS client_addr,
      CAST(1000 + event_id % 1000 AS STRING) AS port
      FROM events ORDER BY event_id"""))

  /** PROGRAM-scoped patterndb classification ([[graft.functions
    * .PdbClassify]] — `pdb_ruleset_lookup`, pdb-ruleset.c:85-134): the
    * program selects a ruleset through the merged program radix BEFORE
    * any rule matching, so a message whose program matches no ruleset
    * pattern classifies unknown even though its text would match a
    * rule. Two rulesets scope the same rule text to different
    * programs with different classes — the oracle replays the
    * program→class routing. */
  private val patterndbProgramScope = Q("patterndb_program_scope",
    (s, d) => {
      val ev = Tables.events(s, d)
      val rulesets = graft.patterndb.PdbLoader.loadString(
        """<patterndb version="5">
          |<ruleset name="clicks" id="rs-c"><pattern>click</pattern><rules>
          |  <rule id="click-ping" class="web"><patterns>
          |    <pattern>ping @NUMBER:k@</pattern></patterns></rule>
          |</rules></ruleset>
          |<ruleset name="errors" id="rs-e"><pattern>error</pattern><rules>
          |  <rule id="err-ping" class="ops"><patterns>
          |    <pattern>ping @NUMBER:k@</pattern></patterns></rule>
          |</rules></ruleset>
          |</patterndb>""".stripMargin)
      val line = concat(lit("ping "), (col("event_id") % 50).cast("string"))
      ev.select(col("event_id"),
          graft.functions.PdbClassify(col("event_type"), line, rulesets).as("m"))
        .select(col("event_id"), col("m.rule_id").as("rule_id"),
          col("m.rule_class").as("rule_class"),
          element_at(col("m.captures"), "k").as("k"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id,
      CASE WHEN event_type = 'click' THEN 'click-ping'
           WHEN event_type = 'error' THEN 'err-ping' END AS rule_id,
      CASE WHEN event_type = 'click' THEN 'web'
           WHEN event_type = 'error' THEN 'ops'
           ELSE 'unknown' END AS rule_class,
      CASE WHEN event_type IN ('click', 'error')
           THEN CAST(event_id % 50 AS STRING) END AS k
      FROM events ORDER BY event_id"""))

  /** patterndb `<action>` synthetic-message generation
    * (`operators`-level [[graft.patterndb.Synthetic]]): per-host
    * contexts fire a timeout action with inherit-properties
    * last-message — the generated message copies the trigger, renders
    * `$(context-length)` as n+1 (the genmsg virtually joins the
    * context) and the condition filters on n (synthetic-message.c). */
  private val patterndbSynthetic = Q("patterndb_synthetic",
    (s, d) => {
      val ev = syslogishEvents(s, d)
        .withColumn("pid", lit(null).cast("string"))
        .withColumn("tags", array(lit("classified")))
        .withColumn("values", map(lit("user"), concat(lit("u"), col("user_id"))))
      val action = graft.patterndb.PdbAction(
        trigger = "timeout",
        condition = Some("\"$(context-length)\" >= \"3\""),
        rate = None,
        messageValues = Seq(
          "CONTEXT_LENGTH" -> "$(context-length)",
          "summary" -> "host $HOST saw $(context-length) events"),
        messageTags = Seq("synthetic"),
        inheritProperties = "last-message")
      graft.patterndb.Synthetic.messages(ev, col("host"), action,
          scope = Some("host"), order = col("event_id"))
        .select(col("context_key"), col("message"),
          element_at(col("values"), "CONTEXT_LENGTH").as("ctx_len"),
          element_at(col("values"), "summary").as("summary"),
          element_at(col("values"), "user").as("user"),
          array_join(col("tags"), ",").as("tags"))
        .orderBy(col("context_key"))
    },
    Some("""SELECT 'h' || user_id AS context_key,
      'u=' || user_id AS message,
      CAST(COUNT(*) + 1 AS STRING) AS ctx_len,
      'host h' || user_id || ' saw ' || (COUNT(*) + 1) || ' events' AS summary,
      'u' || user_id AS user,
      'classified,synthetic' AS tags
      FROM events GROUP BY user_id HAVING COUNT(*) >= 3
      ORDER BY context_key"""))

  // ---------------------------------------------------------------------
  // app-parser via the LogPath junction compiler (SURVEY §2.4 app-parser,
  // §2.6 junction flags, §3.1 config compile)
  // ---------------------------------------------------------------------
  private val appParserQ = Q("app_parser",
    (s, d) => {
      val ev = Tables.events(s, d)
      LogPath.appParser(ev, Seq(
        ("errors", col("event_type") === "error",
          _.withColumn("parsed", concat(lit("E"), col("event_id")))),
        ("bigval", col("value") > 100,
          _.withColumn("parsed", concat(lit("B"), col("user_id"))))))
        .select(col("event_id"), col("__channel").as("app"), col("parsed"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id,
      CASE WHEN event_type = 'error' THEN 'errors'
           WHEN value > 100 THEN 'bigval' ELSE 'unknown' END AS app,
      CASE WHEN event_type = 'error' THEN 'E' || event_id
           WHEN value > 100 THEN 'B' || user_id END AS parsed
      FROM events ORDER BY event_id"""))

  // ---------------------------------------------------------------------
  // default-network-drivers() — the reference's flagship composite
  // (scl/default-network-drivers/plugin.conf): mixed-vendor raw lines
  // auto-route through raw-topic apps / syslog parse / ewmm / syslog-
  // topic apps / plain fallback, via the config front end. Eight line
  // shapes from the events table; the oracle recomputes the expected
  // route and one extracted field per vendor.
  // ---------------------------------------------------------------------
  private val defaultNetwork = Q("default_network",
    (s, d) => {
      val ev = Tables.events(s, d)
      val uid = col("user_id").cast("string")
      val eid = col("event_id").cast("string")
      val m = col("event_id") % 8
      val line = when(m === 0, concat(lit("<189>"), eid,
          lit(": Jan 12 03:04:05: %SYS-5-CONFIG_I: Configured from console by u"), uid))
        .when(m === 1, concat(lit("<134>1 2024-01-12T03:04:05Z gw-"), uid,
          lit(" CheckPoint 1930 - [action:\"Accept\"; src:\"10.0.0."), uid, lit("\";]")))
        .when(m === 2, concat(lit("<189>date=2024-01-12 time=03:04:05 devname=fw"), uid,
          lit(" devid=FGT60 logid=0100032003 type=event subtype=system level=notice")))
        .when(m === 3, concat(lit("<85>Jan 12 03:04:05 h"), uid, lit(" sudo: u"), uid,
          lit(" : TTY=pts/0 ; PWD=/home/u"), uid,
          lit(" ; USER=root ; COMMAND=/bin/ls -la /tmp/f"), eid))
        .when(m === 4, concat(lit("<6>Jan 12 03:04:05 h"), uid,
          lit(" kernel: IN=eth0 OUT= SRC=10.0.0."), uid,
          lit(" DST=10.0.1.2 LEN=60 PROTO=TCP SPT=1042 DPT=22")))
        .when(m === 5, concat(lit("<13>Jan 12 03:04:05 h"), uid,
          lit(" app: @cee:{\"event\":\"login\",\"user\":\"u"), uid, lit("\"}")))
        .when(m === 6, concat(lit("<13>1 2024-01-12T03:04:05Z h"), uid,
          lit(" @syslog-ng - - - {\"MESSAGE\":\"inner "), eid,
          lit("\",\"PROGRAM\":\"app"), uid,
          lit("\",\"._TAGS\":\"t1,t2\",\"wire\":\"w"), eid, lit("\"}")))
        .otherwise(concat(lit("<13>Jan 12 03:04:05 h"), uid,
          lit(" app"), uid, lit(": hello "), eid))
      val in = ev.select(col("event_id"), line.as("message"))
      val conf = """
        @version: 3.33
        source s_net { file("/var/log/net.log"); };
        destination d_all { file("/out/all.log"); };
        log { source(s_net); parser(default-network-drivers()); destination(d_all); };
      """
      val out = graft.config.ConfigCompiler
        .compile(graft.config.ConfigParser.parse(conf), Map("s_net" -> in)).head.df
      out.select(col("event_id"),
          coalesce(element_at(col("values"), ".app.name"), col("__channel")).as("app"),
          col("host"), col("program"),
          coalesce(
            element_at(col("values"), ".cisco.mnemonic"),
            element_at(col("values"), ".checkpoint.action"),
            element_at(col("values"), ".fortigate.devname"),
            element_at(col("values"), ".sudo.COMMAND"),
            element_at(col("values"), ".iptables.PROTO"),
            element_at(col("values"), ".cee.user"),
            element_at(col("values"), "wire")).as("evidence"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id,
      CASE event_id % 8 WHEN 0 THEN 'cisco' WHEN 1 THEN 'checkpoint'
        WHEN 2 THEN 'fortigate' WHEN 3 THEN 'sudo' WHEN 4 THEN 'iptables'
        WHEN 5 THEN 'cee' WHEN 6 THEN 'ewmm' ELSE 'unknown' END AS app,
      CASE event_id % 8 WHEN 0 THEN NULL WHEN 1 THEN 'gw-' || user_id
        WHEN 2 THEN NULL ELSE 'h' || user_id END AS host,
      CASE event_id % 8 WHEN 0 THEN NULL WHEN 1 THEN 'CheckPoint'
        WHEN 2 THEN NULL WHEN 3 THEN 'sudo' WHEN 4 THEN 'kernel'
        WHEN 5 THEN 'app' WHEN 6 THEN 'app' || user_id
        ELSE 'app' || user_id END AS program,
      CASE event_id % 8 WHEN 0 THEN 'CONFIG_I' WHEN 1 THEN 'Accept'
        WHEN 2 THEN 'fw' || user_id WHEN 3 THEN '/bin/ls -la /tmp/f' || event_id
        WHEN 4 THEN 'TCP' WHEN 5 THEN 'u' || user_id WHEN 6 THEN 'w' || event_id
        ELSE NULL END AS evidence
      FROM events ORDER BY event_id"""))

  private val enrichGlob = Q("enrich_glob",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      // glob db: event_type patterns → app class (first match wins)
      val db = Seq(
        ("error*", "class", "alert"), ("error*", "page", "oncall"),
        ("p*", "class", "engagement"), ("*", "class", "other"))
        .toDF("selector", "name", "value")
      Enrich.addContextualDataGlob(ev, db, col("event_type"), prefix = ".ctx.")
        .select(col("event_id"),
          element_at(col("values"), ".ctx.class").as("cls"),
          element_at(col("values"), ".ctx.page").as("page"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id,
      CASE WHEN event_type LIKE 'error%' THEN 'alert'
           WHEN event_type LIKE 'p%' THEN 'engagement'
           ELSE 'other' END AS cls,
      CASE WHEN event_type LIKE 'error%' THEN 'oncall' END AS page
      FROM events ORDER BY event_id"""))

  // ---------------------------------------------------------------------
  // geoip-style range enrichment (SURVEY §2.4 geoip2): /8 block per nation
  // ---------------------------------------------------------------------
  private val enrichRange = Q("enrich_range",
    (s, d) => {
      val ranges = Tables.nation(s, d)
        .select((col("n_nationkey").cast("long") * 16777216L).as("lo"),
          (col("n_nationkey").cast("long") * 16777216L + 16777215L).as("hi"),
          col("n_name"))
      val ev = Tables.events(s, d).withColumn("ip",
        concat((col("user_id") % 25).cast("string"), lit("."),
          (col("event_id") % 256).cast("string"), lit(".0.1")))
      Enrich.ipRangeLookup(ev, ranges, col("ip"))
        .groupBy(col("n_name")).agg(count(lit(1)).as("n"))
        .orderBy(col("n_name"))
    },
    Some("""WITH ranges AS (
        SELECT n_nationkey * 16777216 AS lo, n_nationkey * 16777216 + 16777215 AS hi, n_name
        FROM nation),
      ev AS (
        SELECT (user_id % 25) * 16777216 + (event_id % 256) * 65536 + 1 AS ipint
        FROM events)
      SELECT n_name, COUNT(*) AS n FROM ev JOIN ranges
        ON ipint BETWEEN lo AND hi
      GROUP BY n_name ORDER BY n_name"""))

  // ---------------------------------------------------------------------
  // Field-extraction parsers (SURVEY §2.4): csv, kv, audit, json, date,
  // tags + map-value-pairs. Lines are synthesized from table columns so
  // the oracle can recompute the expected fields independently.
  // ---------------------------------------------------------------------
  private val parseCsv = Q("parse_csv",
    (s, d) => {
      val ev = Tables.events(s, d)
      val line = concat(col("event_type"), lit(","), col("user_id"), lit(",\""),
        regexp_replace(col("props"), "\"", "\"\""), lit("\""))
      val p = Parsers.csvParse(line, Seq("etype", "uid", "props"))
      ev.select(col("event_id"), p.getField("etype").as("etype"),
          p.getField("uid").as("uid"), p.getField("props").as("props2"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id, event_type AS etype, CAST(user_id AS STRING) AS uid,
      props AS props2 FROM events ORDER BY event_id"""))

  private val parseCsvGreedy = Q("parse_csv_greedy",
    (s, d) => {
      val ev = Tables.events(s, d)
      val line = concat(col("event_type"), lit(" "), col("user_id"), lit(" "), col("props"))
      val p = Parsers.csvSplit(line, Seq("w1", "w2", "rest"), " ", greedy = true)
      ev.select(col("event_id"), p.getField("w1").as("w1"),
          p.getField("w2").as("w2"), p.getField("rest").as("rest"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id, event_type AS w1, CAST(user_id AS STRING) AS w2,
      props AS rest FROM events ORDER BY event_id"""))

  private val parseKv = Q("parse_kv",
    (s, d) => {
      val ev = Tables.events(s, d)
      val line = concat(lit("session opened user=u"), col("user_id"),
        lit(" type="), col("event_type"), lit(" note=\"v "), col("event_id"),
        lit("\" end"))
      val m = Parsers.kvParse(line, prefix = ".kv.")
      ev.select(col("event_id"),
          element_at(m, ".kv.user").as("user"),
          element_at(m, ".kv.type").as("type"),
          element_at(m, ".kv.note").as("note"),
          Parsers.kvStrayWords(line).as("stray"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id, 'u' || user_id AS user, event_type AS type,
      'v ' || event_id AS note, '"session opened",end' AS stray
      FROM events ORDER BY event_id"""))

  // ---------------------------------------------------------------------
  // snmptrapd-parser(): synthesized v2 trap per row (header + two
  // varbinds, one typed + one quoted), expected values computed
  // analytically by the oracle — detection, kv-scan, message macro
  // and timestamp all verified at scale
  // ---------------------------------------------------------------------
  private val parseSnmptrap = Q("parse_snmptrap",
    (s, d) => {
      val ev = Tables.events(s, d)
      val id = col("event_id")
      val uid = col("user_id").cast("string")
      val trap = concat(
        lit("2017-05-10 12:46:14 host"), uid,
        lit(" [UDP: [10.0.0."), uid, lit("]:34257->[127.0.0.1]:162]:\n"),
        lit("iso.3.6.1.4.1.8072.2.1.1 = INTEGER: "), id.cast("string"),
        lit("\tnetSnmpExampleString = STRING: \"msg "), id.cast("string"),
        lit("\""))
      val in = ev.select(id.as("event_id"), trap.as("message"))
      Parsers.snmptrapdParser(in)
        .select(col("event_id"),
          element_at(col("values"), ".snmp.hostname").as("hostname"),
          element_at(col("values"), ".snmp.transport_info").as("transport"),
          element_at(col("values"), ".snmp.iso.3.6.1.4.1.8072.2.1.1")
            .as("counter"),
          element_at(col("values"), ".snmp.netSnmpExampleString").as("s"),
          col("message"), col("program"),
          unix_timestamp(col("ts")).as("epoch"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id,
      'host' || user_id AS hostname,
      'UDP: [10.0.0.' || user_id || ']:34257->[127.0.0.1]:162' AS transport,
      cast(event_id AS varchar) AS counter,
      'msg ' || event_id AS s,
      'hostname=''host' || user_id ||
        ''', transport_info=''UDP: [10.0.0.' || user_id ||
        ']:34257->[127.0.0.1]:162'', iso.3.6.1.4.1.8072.2.1.1=''' ||
        event_id || ''', netSnmpExampleString=''msg ' || event_id ||
        '''' AS message,
      'snmptrapd' AS program,
      1494420374 AS epoch
      FROM events ORDER BY event_id"""))

  // ---------------------------------------------------------------------
  // linux-kmsg-format: synthesized /dev/kmsg record per row (header with
  // an ignored extra field + SUBSYSTEM and a subsystem DEVICE pair),
  // expected fields computed analytically by the oracle
  // ---------------------------------------------------------------------
  private val parseKmsg = Q("parse_kmsg",
    (s, d) => {
      val ev = Tables.events(s, d)
      val rec = concat(
        (col("event_id") % 192).cast("string"), lit(","),
        col("event_id").cast("string"), lit(","),
        (col("event_id") * 1000 + col("user_id")).cast("string"),
        lit(",extra field;u="), col("user_id").cast("string"),
        lit("\n SUBSYSTEM="), col("event_type"),
        lit("\n DEVICE=+acpi:dev"), col("user_id").cast("string"))
      val p = graft.functions.KmsgScan(rec)
      ev.select(col("event_id"), p.as("p"))
        .select(col("event_id"),
          shiftright(col("p.pri"), 3).as("facility"),
          col("p.pri").bitwiseAND(7).as("severity"),
          col("p.msgid").as("msgid"),
          col("p.message").as("message"),
          col("p.stamp_usec").as("stamp_usec"),
          element_at(col("p.pairs"), ".linux.timestamp").as("kts"),
          element_at(col("p.pairs"), ".linux.SUBSYSTEM").as("subsystem"),
          element_at(col("p.pairs"), ".linux.DEVICE.type").as("dev_type"),
          element_at(col("p.pairs"), ".linux.DEVICE.name").as("dev_name"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id,
      CAST((event_id % 192) // 8 AS INT) AS facility,
      CAST((event_id % 192) % 8 AS INT) AS severity,
      CAST(event_id AS VARCHAR) AS msgid,
      'u=' || user_id AS message,
      CAST(event_id * 1000 + user_id AS BIGINT) AS stamp_usec,
      CAST(event_id * 1000 + user_id AS VARCHAR) AS kts,
      event_type AS subsystem,
      'acpi' AS dev_type,
      'dev' || user_id AS dev_name
      FROM events ORDER BY event_id"""))

  // ---------------------------------------------------------------------
  // pacct format: synthesized acct_v3 binary record per row (comp fields
  // kept < 8192 so the comp decode is identity and the oracle can
  // compute the expected strings analytically); covers every formatting
  // class — %02x flag, "%lu.00" comp, "%9.2f" etime, comm cstring
  // ---------------------------------------------------------------------
  private val parsePacct = Q("parse_pacct",
    (s, d) => {
      import s.implicits._
      val recs = Tables.events(s, d)
        .select(col("event_id").cast("long"), col("user_id").cast("long"))
        .as[(Long, Long)]
        .map { case (eid, uid) =>
          (eid, graft.functions.PacctScan.build(
            flag = (eid % 128).toInt, tty = (uid % 65536).toInt,
            exitcode = eid % 100, uid = uid, gid = uid % 1000,
            pid = eid % 65536, ppid = 1L, btime = eid % 8192,
            etime = (eid % 1000).toFloat,
            comps = Seq((eid % 8192).toInt, (uid % 8192).toInt,
              ((eid * 7) % 8192).toInt, 0, 0, (eid % 100).toInt, 0, 0),
            comm = "cmd" + uid))
        }.toDF("event_id", "rec")
      recs.select(col("event_id"),
          graft.functions.PacctScan(col("rec")).as("p"))
        .select(col("event_id"),
          element_at(col("p.pairs"), ".pacct.ac_flag").as("flag"),
          element_at(col("p.pairs"), ".pacct.ac_uid").as("uid"),
          element_at(col("p.pairs"), ".pacct.ac_pid").as("pid"),
          element_at(col("p.pairs"), ".pacct.ac_btime").as("btime"),
          element_at(col("p.pairs"), ".pacct.ac_etime").as("etime"),
          element_at(col("p.pairs"), ".pacct.ac_utime").as("utime"),
          element_at(col("p.pairs"), ".pacct.ac_mem").as("mem"),
          element_at(col("p.pairs"), ".pacct.ac_comm").as("comm"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id,
      printf('%02x', event_id % 128) AS flag,
      CAST(user_id AS VARCHAR) AS uid,
      CAST(event_id % 65536 AS VARCHAR) AS pid,
      CAST(event_id % 8192 AS VARCHAR) || '.00' AS btime,
      printf('%9.2f', CAST(event_id % 1000 AS DOUBLE)) AS etime,
      CAST(event_id % 8192 AS VARCHAR) || '.00' AS utime,
      CAST((event_id * 7) % 8192 AS VARCHAR) AS mem,
      'cmd' || user_id AS comm
      FROM events ORDER BY event_id"""))

  private val parseAudit = Q("parse_audit",
    (s, d) => {
      val ev = Tables.events(s, d)
      val line = concat(lit("audit: proctitle="),
        hex(encode(concat(col("event_type"), lit(" "), col("user_id")), "UTF-8")),
        lit(" exe=\"/usr/bin/app\" uid="), col("user_id"))
      // scope decoding to the hex-carrying field: bare numerics like
      // uid=46 are valid hex and must NOT be decoded
      val m = Parsers.auditKvParse(line, hexFields = Set("proctitle"))
      ev.select(col("event_id"),
          element_at(m, "proctitle").as("proctitle"),
          element_at(m, "exe").as("exe"),
          element_at(m, "uid").as("uid"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id, event_type || ' ' || user_id AS proctitle,
      '/usr/bin/app' AS exe, CAST(user_id AS STRING) AS uid
      FROM events ORDER BY event_id"""))

  private val parseJsonFlat = Q("parse_json",
    (s, d) => {
      val ev = Tables.events(s, d)
      val m = JsonFlatten(col("props"), ".json.", "")
      ev.select(col("event_id"), element_at(m, ".json.k").as("k"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id, regexp_extract(props, '"k": (\d+)', 1) AS k
      FROM events ORDER BY event_id"""))

  private val parseJsonNested = Q("parse_json_nested",
    (s, d) => {
      val ev = Tables.events(s, d)
      val doc = concat(lit("{\"u\": {\"id\": "), col("user_id"),
        lit(", \"type\": \""), col("event_type"),
        lit("\", \"deep\": {\"q\": ["), col("event_id"),
        lit("]}}, \"skip\": 1}"))
      val m = JsonFlatten(doc, "", "u")
      ev.select(col("event_id"), element_at(m, "id").as("id"),
          element_at(m, "type").as("type"),
          element_at(m, "deep.q[0]").as("q0"),
          element_at(m, "skip").as("skip"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id, CAST(user_id AS STRING) AS id, event_type AS type,
      CAST(event_id AS STRING) AS q0, CAST(NULL AS VARCHAR) AS skip
      FROM events ORDER BY event_id"""))

  private val parseXml = Q("parse_xml",
    (s, d) => {
      val ev = Tables.events(s, d)
      val doc = concat(lit("<event id=\""), col("event_id"),
        lit("\"><user>u"), col("user_id"), lit("</user><type>"),
        col("event_type"), lit("</type><tag>a</tag><tag>b</tag></event>"))
      val m = XmlFlatten(doc)
      ev.select(col("event_id"),
          element_at(m, ".xml.event._id").as("id"),
          element_at(m, ".xml.event.user").as("user"),
          element_at(m, ".xml.event.type").as("type"),
          element_at(m, ".xml.event.tag").as("tags"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id, CAST(event_id AS STRING) AS id,
      'u' || user_id AS user, event_type AS type, 'a,b' AS tags
      FROM events ORDER BY event_id"""))

  private val parseDate = Q("parse_date",
    (s, d) => {
      val ev = syslogishEvents(s, d)
      val line = date_format(col("ts"), "dd/MMM/yyyy:HH:mm:ss")
      ev.select(col("event_id"),
          unix_timestamp(Parsers.dateParse(line, "%d/%b/%Y:%H:%M:%S",
            Some("America/New_York"))).as("ts_utc_sec"))
        .orderBy(col("event_id"))
    },
    // the string is wall-clock NY time; +4h (EDT) or +5h (EST) to UTC
    Some("""SELECT event_id,
      CAST(epoch(timezone('America/New_York', make_timestamp(
        year(ts), month(ts), day(ts), hour(ts), minute(ts),
        CAST(date_part('second', ts) AS DOUBLE)))) AS BIGINT) AS ts_utc_sec
      FROM events ORDER BY event_id"""))

  /** date-parser() with a FORMAT LIST (DateScan): two wire formats
    * round-robin by row — the list must pick the right one per row
    * (date-parser.c format list, test_date.c:229). The +02:00 timezone
    * applies because neither format carries an offset; gmtoff is the
    * parsed offset the reference stores in ut_gmtoff. */
  private val parseDateStrftime = Q("parse_date_strftime",
    (s, d) => {
      val ev = syslogishEvents(s, d)
      val iso = date_format(col("ts"), "yyyy-MM-dd HH:mm:ss")
      val apache = date_format(col("ts"), "dd/MMM/yyyy:HH:mm:ss")
      val line = when(col("event_id") % 2 === 0, iso).otherwise(apache)
      val scan = graft.functions.DateScan(line,
        Seq("%F %T", "%d/%b/%Y:%T"), Some("+02:00"), "UTC",
        1700000000L, guessTimezone = false)
      ev.withColumn("__d", scan)
        .select(col("event_id"),
          col("__d.epoch").as("epoch"),
          col("__d.gmtoff").as("gmtoff"))
        .orderBy(col("event_id"))
    },
    // the rendered string is the UTC wall clock of ts; reinterpreted in
    // +02:00 the instant moves back 7200s
    Some("""SELECT event_id,
      CAST(epoch(date_trunc('second', ts)) AS BIGINT) - 7200 AS epoch,
      7200 AS gmtoff
      FROM events ORDER BY event_id"""))

  /** groupset() with a $_ old-value template over kv-parsed values
    * (rewrite-groupset.c, test_rewrite.c:268). */
  private val rewriteGroupset = Q("rewrite_groupset",
    (s, d) => {
      val ev = Tables.events(s, d)
      val line = concat(lit("user=u"), col("user_id"),
        lit(" type="), col("event_type"))
      val parsed = ev.withColumn("values",
        Parsers.kvParse(line, prefix = ".kv."))
      val out = graft.operators.Rewrites.groupSet(parsed,
        old => concat(old, lit("-x")), Seq(".kv.u*"))
      out.select(col("event_id"),
          element_at(col("values"), ".kv.user").as("user"),
          element_at(col("values"), ".kv.type").as("type"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id, 'u' || user_id || '-x' AS user,
      event_type AS type FROM events ORDER BY event_id"""))

  /** match(flags(store-matches)) — named groups land in values, $2 in
    * the numbered registers (lib/logmatcher.c, test_filters_regexp.c). */
  private val filterMatchStore = Q("filter_match_store",
    (s, d) => {
      val ev = Tables.events(s, d)
      val line = concat(lit("u"), col("user_id"), lit(" "), col("event_type"))
      val df = graft.operators.Filters.matchStore(
        ev.withColumn("message", line),
        "(?<who>u[0-9]+) (?<what>[a-z_]+)", col("message"))
      df.select(col("event_id"),
          col("matched"),
          element_at(col("values"), "who").as("who"),
          element_at(col("values"), "what").as("what"),
          try_element_at(col("matches"), lit(3)).as("reg2"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id, TRUE AS matched, 'u' || user_id AS who,
      event_type AS what, event_type AS reg2
      FROM events ORDER BY event_id"""))

  private val parseTagsRekey = Q("parse_tags_rekey",
    (s, d) => {
      val ev = Tables.events(s, d)
      val tagLine = concat(lit("sys,"), col("event_type"), lit(",u"),
        col("user_id") % 5, lit(","))
      val kv = Parsers.kvParse(
        concat(lit("foo.a="), col("event_id"), lit(" x="), col("user_id")))
      val renamed = Parsers.mapValuePairs(kv, Seq(("foo.*", "bar."), ("x", "y")))
      ev.select(col("event_id"),
          array_join(Parsers.tagsParse(tagLine), "|").as("tags"),
          element_at(renamed, "bar.a").as("bar_a"),
          element_at(renamed, "y").as("y"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id,
      'sys|' || event_type || '|u' || (user_id % 5) AS tags,
      CAST(event_id AS STRING) AS bar_a, CAST(user_id AS STRING) AS y
      FROM events ORDER BY event_id"""))

  // ---------------------------------------------------------------------
  // The config front end (SURVEY §3.1): a syslog-ng-style config text
  // parsed + compiled to the same DataFrame algebra, oracle-checked.
  // ---------------------------------------------------------------------
  private val configPipeline = Q("config_pipeline",
    (s, d) => {
      val ev = syslogishEvents(s, d)
        .withColumn("tags", array().cast("array<string>"))
        .withColumn("message", concat(lit("u="), col("user_id"), lit(" k="),
          regexp_extract(col("props"), "\"k\": (\\d+)", 1)))
      val conf = """
        @version: 3.33
        source s_ev { file("/var/log/events.log"); };
        filter f_sev { severity(emerg..err) and not program("logout"); };
        parser p_kv { kv-parser(prefix(".kv.")); };
        rewrite r {
          set-tag("hit");
          set("$PROGRAM@$HOST", value("program"), condition(severity(crit..err)));
        };
        destination d_out { file("/out/events-$HOST.log"); };
        log { source(s_ev); filter(f_sev); parser(p_kv); rewrite(r); destination(d_out); };
      """
      val out = graft.config.ConfigCompiler
        .compile(graft.config.ConfigParser.parse(conf), Map("s_ev" -> ev)).head.df
      out.select(col("event_id"), col("host"), col("program"),
          element_at(col("values"), ".kv.k").as("k"),
          array_join(col("tags"), ",").as("tags"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id, 'h' || user_id AS host,
      CASE WHEN event_id % 8 BETWEEN 2 AND 3
           THEN event_type || '@h' || user_id ELSE event_type END AS program,
      regexp_extract(props, '"k": (\d+)', 1) AS k,
      'hit' AS tags
      FROM events
      WHERE event_id % 8 <= 3 AND NOT regexp_matches(event_type, 'logout')
      ORDER BY event_id"""))

  /** Config front end driving the three stateful/enrich blocks the
    * reference's real configs lean on: add-contextual-data() (broadcast
    * lookup), db-parser() (patterndb XML -> RadixMatch), grouping-by()
    * (session aggregate with where/having). */
  private val configPipelineV2 = Q("config_pipeline_v2",
    (s, d) => {
      val ev = syslogishEvents(s, d)
        .withColumn("message", concat(lit("u="), col("user_id"), lit(" k="),
          regexp_extract(col("props"), "\"k\": (\\d+)", 1)))
        .withColumn("tags", array().cast("array<string>"))
      val dir = java.nio.file.Files.createTempDirectory("graft_cfg_v2")
      val csv = dir.resolve("ctx.csv")
      java.nio.file.Files.write(csv, java.util.Arrays.asList(
        "click,team,web", "view,team,web", "error,team,ops",
        "purchase,team,commerce", "signup,team,auth"))
      val pdb = dir.resolve("app.pdb")
      java.nio.file.Files.write(pdb, java.util.Arrays.asList(
        "<patterndb version='4' pub_date='2024-01-01'>",
        " <ruleset name='app' id='rs1'>",
        // ruleset <patterns> scope rules by PROGRAM (pdb_ruleset_lookup,
        // pdb-ruleset.c:104) — list every event_type the generator emits
        "  <patterns><pattern>click</pattern><pattern>view</pattern>" +
          "<pattern>error</pattern><pattern>purchase</pattern>" +
          "<pattern>signup</pattern></patterns>",
        "  <rules><rule provider='t' id='ev-ok' class='app'>",
        "   <patterns><pattern>u=@NUMBER:uid@ k=@NUMBER:kv@</pattern></patterns>",
        "  </rule></rules>",
        " </ruleset>",
        "</patterndb>"))
      val conf = s"""
        @version: 3.33
        source s_ev { file("/var/log/events.log"); };
        parser p_ctx { add-contextual-data(selector("$$PROGRAM"),
          database("$csv"), prefix(".ctx.")); };
        parser p_db { db-parser(file("$pdb")); };
        parser p_grp { grouping-by(key("$$HOST") timeout(999999999)
          where(severity(emerg..err))
          aggregate(value("n" "$$(context-length)")
                    value("kmax" "$$(max $$kv)")
                    value("team" "$$.ctx.team"))
          having("$$n" > "1")); };
        destination d_out { file("/out/sessions.log"); };
        log { source(s_ev); parser(p_ctx); parser(p_db); parser(p_grp);
              destination(d_out); };
      """
      val out = graft.config.ConfigCompiler
        .compile(graft.config.ConfigParser.parse(conf), Map("s_ev" -> ev)).head.df
      out.select(col("key").as("host"), col("n"), col("kmax"), col("team"))
        .orderBy(col("host"))
    },
    Some("""WITH ev AS (
        SELECT 'h' || user_id AS host, event_type AS program,
          event_id % 8 AS severity,
          regexp_extract(props, '"k": (\d+)', 1) AS k
        FROM events
      ), flt AS (SELECT * FROM ev WHERE severity <= 3
      ), agg AS (
        SELECT host,
          CAST(count(*) AS VARCHAR) AS n,
          CAST(max(CASE WHEN k <> '' THEN CAST(k AS BIGINT) END) AS VARCHAR) AS kmax,
          min(CASE program WHEN 'click' THEN 'web' WHEN 'view' THEN 'web'
            WHEN 'error' THEN 'ops' WHEN 'purchase' THEN 'commerce'
            WHEN 'signup' THEN 'auth' END) AS team
        FROM flt GROUP BY host)
      SELECT host, n, kmax, team FROM agg
      WHERE CAST(n AS BIGINT) > 1 ORDER BY host"""))

  /** Config front end: reusable block{} definition (backtick parameter
    * substitution, cfg-block-generator.c) + if/elif/else in the log
    * path (desugared to a junction of FINAL channels exactly as
    * lib/cfg-tree.c:391-431 describes). */
  private val configPipelineV3 = Q("config_pipeline_v3",
    (s, d) => {
      val ev = syslogishEvents(s, d)
        .withColumn("message", concat(lit("u="), col("user_id"), lit(" k="),
          regexp_extract(col("props"), "\"k\": (\\d+)", 1)))
        .withColumn("tags", array().cast("array<string>"))
      val conf = """
        @version: 3.33
        block parser kv_with_prefix(prefix(".kv.")) {
          kv-parser(prefix("`prefix`"));
        };
        source s_ev { file("/var/log/events.log"); };
        destination d_out { file("/out/banded.log"); };
        log {
          source(s_ev);
          parser(kv_with_prefix(prefix(".p3.")));
          if (severity(emerg..err)) {
            rewrite(set("urgent", value("band")));
          } elif (program("click") or program("view")) {
            rewrite(set("web", value("band")));
          } else {
            rewrite(set("other", value("band")));
          };
          destination(d_out);
        };
      """
      val out = graft.config.ConfigCompiler
        .compile(graft.config.ConfigParser.parse(conf), Map("s_ev" -> ev)).head.df
      out.select(col("event_id"), col("band"),
          element_at(col("values"), ".p3.k").as("k"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id,
      CASE WHEN event_id % 8 <= 3 THEN 'urgent'
           WHEN event_type IN ('click', 'view') THEN 'web'
           ELSE 'other' END AS band,
      regexp_extract(props, '"k": (\d+)', 1) AS k
      FROM events ORDER BY event_id"""))

  // ---------------------------------------------------------------------
  // value-pairs + structured output formatters (SURVEY §2.8)
  // ---------------------------------------------------------------------
  private val formatJsonQ = Q("format_json",
    (s, d) => {
      val ev = Tables.events(s, d)
      val nv = map(
        lit("u.id"), col("user_id").cast("string"),
        lit("u.type"), col("event_type"),
        lit("v"), col("event_id").cast("string"))
      ev.select(col("event_id"),
          ValuePairs.formatJson(nv).as("nested"),
          ValuePairs.formatFlatJson(nv).as("flat"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id,
      '{"u":{"id":"' || user_id || '","type":"' || event_type || '"},"v":"' || event_id || '"}' AS nested,
      '{"u.id":"' || user_id || '","u.type":"' || event_type || '","v":"' || event_id || '"}' AS flat
      FROM events ORDER BY event_id"""))

  private val formatWelfCef = Q("format_welf_cef",
    (s, d) => {
      val ev = Tables.events(s, d)
      val nv = map(
        lit("id"), concat(lit("fw"), col("user_id") % 10),
        lit("msg"), concat(lit("v "), col("event_id")),
        lit("act"), col("event_type"))
      ev.select(col("event_id"),
          ValuePairs.formatWelf(nv).as("welf"),
          ValuePairs.formatCef(map(lit("eq"), concat(col("event_type"), lit("=x")),
            lit("n"), col("user_id").cast("string"))).as("cef"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id,
      'id=fw' || (user_id % 10) || ' act=' || event_type || ' msg="v ' || event_id || '"' AS welf,
      'eq=' || event_type || '\=x n=' || user_id AS cef
      FROM events ORDER BY event_id"""))

  private val vpRekey = Q("vp_rekey",
    (s, d) => {
      val ev = Tables.events(s, d)
      val nv = map(
        lit(".SDATA.meta.seq"), col("event_id").cast("string"),
        lit(".SDATA.meta.user"), col("user_id").cast("string"),
        lit("MESSAGE"), col("event_type"))
      val out = ValuePairs.shiftLevels(
        ValuePairs.replacePrefix(
          ValuePairs.select(nv, include = Seq(".SDATA.*")), ".SDATA.", "sd."),
        1)
      ev.select(col("event_id"), ValuePairs.formatFlatJson(out).as("j"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id,
      '{"meta.seq":"' || event_id || '","meta.user":"' || user_id || '"}' AS j
      FROM events ORDER BY event_id"""))

  // ---------------------------------------------------------------------
  // grouping-by session aggregation + suppress/throttle (SURVEY §2.4,
  // §2.7). Oracle reconstructs sessions with lag + cumulative-sum;
  // session boundary when the inactivity gap is >= timeout (Spark's
  // session_window end is exclusive).
  // ---------------------------------------------------------------------
  private val groupingBySession = Q("grouping_by_session",
    (s, d) => {
      val ev = syslogishEvents(s, d)
      Sessions.groupingBy(ev, col("user_id"), col("ts"), 21600,
        Seq(count(lit(1)).as("n"),
          sum(dec(col("value"))).cast("double").as("sum_value"),
          Sessions.sortedValues(col("event_type"),
            struct(col("ts"), col("event_id"))).as("types")))
        .select(col("key").as("user_id"), unix_micros(col("session_start")).as("start_us"),
          col("n"), col("sum_value"), col("types"))
        .orderBy(col("user_id"), col("start_us"))
    },
    Some("""WITH x AS (
        SELECT user_id, ts, event_id, event_type, value,
          lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
        FROM events),
      sessed AS (
        SELECT *, SUM(CASE WHEN pts IS NULL
            OR epoch_ns(ts) - epoch_ns(pts) >= 21600::BIGINT * 1000000000 THEN 1 ELSE 0 END)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS sess
        FROM x)
      SELECT user_id, CAST(epoch_ns(min(ts)) // 1000 AS BIGINT) AS start_us,
        count(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        string_agg(event_type, ',' ORDER BY ts, event_id) AS types
      FROM sessed GROUP BY user_id, sess ORDER BY user_id, start_us"""))

  private val groupingByHaving = Q("grouping_by_having",
    (s, d) => {
      val ev = syslogishEvents(s, d)
      Sessions.groupingBy(ev, concat_ws("|", col("user_id"), col("event_type")),
        col("ts"), 86400,
        Seq(count(lit(1)).as("n"), min(col("event_id")).as("first_ev"),
          max(col("event_id")).as("last_ev")),
        where = col("value") > 10, having = col("n") >= 4)
        .select(col("key"), col("n"), col("first_ev"), col("last_ev"),
          unix_micros(col("session_start")).as("start_us"))
        .orderBy(col("key"), col("start_us"))
    },
    Some("""WITH f AS (SELECT * FROM events WHERE value > 10),
      x AS (
        SELECT user_id || '|' || event_type AS key, ts, event_id,
          lag(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS pts
        FROM f),
      sessed AS (
        SELECT *, SUM(CASE WHEN pts IS NULL
            OR epoch_ns(ts) - epoch_ns(pts) >= 86400::BIGINT * 1000000000 THEN 1 ELSE 0 END)
          OVER (PARTITION BY key ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS sess
        FROM x)
      SELECT key, count(*) AS n, min(event_id) AS first_ev, max(event_id) AS last_ev,
        CAST(epoch_ns(min(ts)) // 1000 AS BIGINT) AS start_us
      FROM sessed GROUP BY key, sess HAVING count(*) >= 4
      ORDER BY key, start_us"""))

  // context functions over a session: $(context-length), $(context-values),
  // $(grep cond $v), $(sum) (SURVEY §2.8 context/aggregate family)
  private val contextFuncs = Q("grouping_by_context_funcs",
    (s, d) => {
      val ev = syslogishEvents(s, d)
      Sessions.groupingBy(ev, col("user_id"), col("ts"), 86400,
        Seq(
          count(lit(1)).as("context_length"),
          Sessions.sortedValues(col("event_id").cast("string"),
            struct(col("ts"), col("event_id"))).as("context_values"),
          // $(grep 'event_type == error' $event_id): filter context rows
          Sessions.sortedValues(
            when(col("event_type") === "error", col("event_id").cast("string")),
            struct(col("ts"), col("event_id"))).as("grep_errors"),
          sum(dec(col("value"))).cast("double").as("ctx_sum")))
        .select(col("key").as("user_id"), unix_micros(col("session_start")).as("start_us"),
          col("context_length"), col("context_values"), col("grep_errors"), col("ctx_sum"))
        .orderBy(col("user_id"), col("start_us"))
    },
    Some("""WITH x AS (
        SELECT user_id, ts, event_id, event_type, value,
          lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
        FROM events),
      sessed AS (
        SELECT *, SUM(CASE WHEN pts IS NULL
            OR epoch_ns(ts) - epoch_ns(pts) >= 86400::BIGINT * 1000000000 THEN 1 ELSE 0 END)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS sess
        FROM x)
      SELECT user_id, CAST(epoch_ns(min(ts)) // 1000 AS BIGINT) AS start_us,
        count(*) AS context_length,
        string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY ts, event_id) AS context_values,
        coalesce(string_agg(CASE WHEN event_type = 'error' THEN CAST(event_id AS VARCHAR) END,
          ',' ORDER BY ts, event_id), '') AS grep_errors,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS ctx_sum
      FROM sessed GROUP BY user_id, sess ORDER BY user_id, start_us"""))

  private val suppressQ = Q("suppress",
    (s, d) => {
      val ev = syslogishEvents(s, d)
      Sessions.suppress(ev, concat_ws("|", col("user_id"), col("event_type")),
        col("ts"), 86400, col("event_id"))
        .orderBy(col("suppress_key"), col("first_ts_us"))
    },
    Some("""WITH x AS (
        SELECT user_id || '|' || event_type AS suppress_key, ts, event_id,
          lag(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS pts
        FROM events),
      sessed AS (
        SELECT *, SUM(CASE WHEN pts IS NULL
            OR epoch_ns(ts) - epoch_ns(pts) >= 86400::BIGINT * 1000000000 THEN 1 ELSE 0 END)
          OVER (PARTITION BY suppress_key ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS sess
        FROM x)
      SELECT suppress_key, first(event_id ORDER BY ts, event_id) AS first_id,
        CAST(epoch_ns(min(ts)) // 1000 AS BIGINT) AS first_ts_us,
        count(*) - 1 AS n_suppressed
      FROM sessed GROUP BY suppress_key, sess
      ORDER BY suppress_key, first_ts_us"""))


  /** r15 skew-split route under a FORCED tiny budget: at sf0.01 every
    * user_id splits into several contiguous ts-ranges, so the oracle
    * hash-compares the full split+stitch pipeline (local ordinals,
    * cross-boundary merge flags, ordinal re-base, stitch aggregate)
    * against DuckDB's unsplit window sessionization — splitting is an
    * execution detail and must be value-invisible. */
  private val groupingBySkewSplit = Q("grouping_by_skew_split",
    (s, d) => {
      val ev = syslogishEvents(s, d)
      Sessions.groupingBy(ev, col("user_id"), col("ts"), 21600,
        Seq(count(lit(1)).as("n"),
          sum(dec(col("value"))).cast("double").as("sum_value"),
          Sessions.sortedValues(col("event_type"),
            struct(col("ts"), col("event_id"))).as("types")),
        splitHotKeysOver = 64L)
        .select(col("key").as("user_id"), unix_micros(col("session_start")).as("start_us"),
          col("n"), col("sum_value"), col("types"))
        .orderBy(col("user_id"), col("start_us"))
    },
    Some("""WITH x AS (
        SELECT user_id, ts, event_id, event_type, value,
          lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
        FROM events),
      sessed AS (
        SELECT *, SUM(CASE WHEN pts IS NULL
            OR epoch_ns(ts) - epoch_ns(pts) >= 21600::BIGINT * 1000000000 THEN 1 ELSE 0 END)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS sess
        FROM x)
      SELECT user_id, CAST(epoch_ns(min(ts)) // 1000 AS BIGINT) AS start_us,
        count(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        string_agg(event_type, ',' ORDER BY ts, event_id) AS types
      FROM sessed GROUP BY user_id, sess ORDER BY user_id, start_us"""))

  /** suppress() on the same forced-split budget — first_id under the
    * stitch branch's order-insensitive min_by must equal the claimed
    * first() of the unsplit run. */
  private val suppressSkewSplit = Q("suppress_skew_split",
    (s, d) => {
      val ev = syslogishEvents(s, d)
      Sessions.suppress(ev, concat_ws("|", col("user_id"), col("event_type")),
        col("ts"), 86400, col("event_id"), splitHotKeysOver = 32L)
        .orderBy(col("suppress_key"), col("first_ts_us"))
    },
    Some("""WITH x AS (
        SELECT user_id || '|' || event_type AS suppress_key, ts, event_id,
          lag(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS pts
        FROM events),
      sessed AS (
        SELECT *, SUM(CASE WHEN pts IS NULL
            OR epoch_ns(ts) - epoch_ns(pts) >= 86400::BIGINT * 1000000000 THEN 1 ELSE 0 END)
          OVER (PARTITION BY suppress_key ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS sess
        FROM x)
      SELECT suppress_key, first(event_id ORDER BY ts, event_id) AS first_id,
        CAST(epoch_ns(min(ts)) // 1000 AS BIGINT) AS first_ts_us,
        count(*) - 1 AS n_suppressed
      FROM sessed GROUP BY suppress_key, sess
      ORDER BY suppress_key, first_ts_us"""))

  private val throttleQ = Q("throttle",
    (s, d) => {
      val ev = Tables.events(s, d)
        // compress 30 days into per-day "seconds" so the cap is exercised
        .withColumn("pseudo_ts",
          timestamp_seconds(floor(Tables.tsSeconds(col("ts")) / 86400)))
      Sessions.throttle(ev, col("event_type"), col("pseudo_ts"), 5, col("event_id"))
        .select(col("event_id"), col("event_type"))
        .orderBy(col("event_id"))
    },
    Some("""WITH ranked AS (
        SELECT event_id, event_type,
          row_number() OVER (PARTITION BY event_type, CAST(floor(epoch(ts) / 86400) AS BIGINT)
                             ORDER BY event_id) AS rn
        FROM events)
      SELECT event_id, event_type FROM ranked WHERE rn <= 5
      ORDER BY event_id"""))

  // ---------------------------------------------------------------------
  // Dedup family (training-pipeline ops)
  // ---------------------------------------------------------------------
  private val dedupExact = Q("dedup_exact",
    (s, d) => Dedup.exactSurvivors(Tables.events(s, d),
        concat_ws("|", col("user_id"), col("event_type")), col("event_id"))
      .select(col("dup_key"), col("survivor_id"), col("n_dups"))
      .orderBy(col("dup_key")),
    Some("""SELECT user_id || '|' || event_type AS dup_key,
      min(event_id) AS survivor_id, count(*) AS n_dups
      FROM events GROUP BY 1 ORDER BY dup_key"""))

  private val dedupDropped = Q("dedup_dropped",
    (s, d) => Dedup.exactDropped(Tables.events(s, d),
        concat_ws("|", col("user_id"), col("event_type")), col("event_id"))
      .select(col("event_id"), col("user_id"), col("event_type"))
      .orderBy(col("event_id")),
    Some("""SELECT event_id, user_id, event_type FROM events
      WHERE event_id NOT IN (
        SELECT min(event_id) FROM events GROUP BY user_id, event_type)
      ORDER BY event_id"""))

  /** Incremental-ingest dedup: the "new wave" = even event_ids, the
    * seen-signature index = keys of odd user_ids — admitted rows dedup
    * within the wave (min event_id per key) AND against the index. */
  private val dedupIncremental = Q("dedup_incremental",
    (s, d) => {
      val ev = Tables.events(s, d)
      val key = concat_ws("|", col("user_id"), col("event_type"))
      val wave = ev.filter(col("event_id") % 2 === 0)
      val seen = ev.filter(col("user_id") % 2 === 1)
        .select(key.as("signature")).distinct()
      Dedup.incrementalSurvivors(wave, key, col("event_id"), seen)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .orderBy(col("event_id"))
    },
    Some("""WITH wave AS (SELECT * FROM events WHERE event_id % 2 = 0),
      seen AS (SELECT DISTINCT user_id || '|' || event_type AS signature
               FROM events WHERE user_id % 2 = 1)
      SELECT event_id, user_id, event_type FROM wave w
      WHERE event_id IN (
        SELECT min(event_id) FROM wave GROUP BY user_id, event_type)
      AND NOT EXISTS (SELECT 1 FROM seen s
        WHERE s.signature = w.user_id || '|' || w.event_type)
      ORDER BY event_id"""))

  private val dedupNgramJaccard = Q("dedup_ngram_jaccard",
    (s, d) => Dedup.ngramJaccardPairs(Tables.documents(s, d),
        col("doc_id"), col("text"), shingleK = 3, threshold = 0.5)
      .orderBy(col("id_a"), col("id_b")),
    Some("""WITH toks AS (
        SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
      ), sh AS (
        SELECT doc_id, list_distinct(list_transform(
          range(1, greatest(len(w) - 2, 1) + 1),
          i -> array_to_string(w[i:i+2], ' '))) AS shingles FROM toks
      ), sized AS (SELECT doc_id, len(shingles) AS n, shingles FROM sh
      ), posting AS (SELECT doc_id, n, unnest(shingles) AS shingle FROM sized
      ), capped AS (
        SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY shingle) AS df
          FROM posting) WHERE df <= 1000
      ), pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS n_a, b.n AS n_b,
          count(*) AS common
        FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4)
      SELECT id_a, id_b, CAST(common AS DOUBLE) / (n_a + n_b - common) AS jaccard
      FROM pairs WHERE CAST(common AS DOUBLE) / (n_a + n_b - common) >= 0.5
      ORDER BY id_a, id_b"""))

  /** Incremental MinHash/LSH admission (the rolling-crawl shape): the
    * wave = doc_id % 10 == 0, the corpus = everything else; a wave doc
    * is admitted unless it is a VERIFIED near-dup (exact Jaccard >=
    * 0.7 on an LSH band candidate) of a corpus doc or of a smaller-id
    * wave doc. Same md5p31 oracle hash family as dedup_minhash_lsh —
    * DuckDB replays signatures, banding, both candidate sets, and the
    * verification, then applies the same admission rule. Admission runs
    * in Dedup's default regime: the wave broadcasts up to 1M docs and
    * takes the shuffle fallback above that. */
  private val dedupMinhashIncr = Q("dedup_minhash_incremental",
    (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.minhashIncrementalAdmitted(
          docs.filter(col("doc_id") % 10 === 0),
          docs.filter(col("doc_id") % 10 =!= 0),
          col("doc_id"), col("text"), shingleK = 3, numHashes = 32,
          bands = 8, threshold = 0.7, algo = "md5p31", hashBandKeys = false)
        .select(col("doc_id")).orderBy(col("doc_id"))
    },
    Some("""WITH toks AS (
        SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
      ), sh AS (
        SELECT doc_id, list_distinct(list_transform(
          range(1, greatest(len(w) - 2, 1) + 1),
          i -> array_to_string(w[i:i+2], ' '))) AS shingles FROM toks
      ), post AS (SELECT doc_id, unnest(shingles) AS s FROM sh
      ), ab AS (
        SELECT k, (md5_number_lower('mh_a_' || k) >> 33) | 1 AS a,
               md5_number_lower('mh_b_' || k) >> 33 AS b
        FROM (SELECT unnest(range(0, 32)) AS k)
      ), hashed AS (
        SELECT doc_id, k,
          min((a * (md5_number_lower(s) >> 33) + b) % 2147483647) AS hk
        FROM post, ab GROUP BY doc_id, k
      ), sigs AS (
        SELECT doc_id, list(hk ORDER BY k) AS sig FROM hashed GROUP BY doc_id
      ), bands AS (
        SELECT doc_id, bi, array_to_string(sig[bi*4+1 : bi*4+4], ',') AS bkey
        FROM sigs, (SELECT unnest(range(0, 8)) AS bi)
      ), jacc AS (
        SELECT id_a, id_b,
          CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
          CAST(len(sa.shingles) + len(sb.shingles)
               - len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
            AS jaccard
        FROM (SELECT DISTINCT w.doc_id AS id_a, c.doc_id AS id_b
              FROM bands w JOIN bands c ON w.bi = c.bi AND w.bkey = c.bkey
              WHERE w.doc_id % 10 = 0
                AND (c.doc_id % 10 <> 0
                     OR (c.doc_id % 10 = 0 AND c.doc_id < w.doc_id)))
        JOIN sh sa ON sa.doc_id = id_a
        JOIN sh sb ON sb.doc_id = id_b)
      SELECT doc_id FROM documents
      WHERE doc_id % 10 = 0
        AND doc_id NOT IN (SELECT id_a FROM jacc WHERE jaccard >= 0.7)
      ORDER BY doc_id"""))

  /** MinHash/LSH with the oracle-replicable hash family (md5p31) and
    * verbatim band keys: DuckDB recomputes signatures, band keys,
    * candidate set, and exact-Jaccard verification — the full algorithm
    * is externally verified, not just row counts. */
  private val dedupMinhash = Q("dedup_minhash_lsh",
    (s, d) => Dedup.minhashPairs(Tables.documents(s, d), col("doc_id"),
        col("text"), shingleK = 3, numHashes = 32, bands = 8, threshold = 0.7,
        algo = "md5p31", hashBandKeys = false)
      .orderBy(col("id_a"), col("id_b")),
    Some("""WITH toks AS (
        SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
      ), sh AS (
        SELECT doc_id, list_distinct(list_transform(
          range(1, greatest(len(w) - 2, 1) + 1),
          i -> array_to_string(w[i:i+2], ' '))) AS shingles FROM toks
      ), post AS (SELECT doc_id, unnest(shingles) AS s FROM sh
      ), ab AS (
        SELECT k, (md5_number_lower('mh_a_' || k) >> 33) | 1 AS a,
               md5_number_lower('mh_b_' || k) >> 33 AS b
        FROM (SELECT unnest(range(0, 32)) AS k)
      ), hashed AS (
        SELECT doc_id, k,
          min((a * (md5_number_lower(s) >> 33) + b) % 2147483647) AS hk
        FROM post, ab GROUP BY doc_id, k
      ), sigs AS (
        SELECT doc_id, list(hk ORDER BY k) AS sig FROM hashed GROUP BY doc_id
      ), bands AS (
        SELECT doc_id, bi, array_to_string(sig[bi*4+1 : bi*4+4], ',') AS bkey
        FROM sigs, (SELECT unnest(range(0, 8)) AS bi)
      ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.bi = b.bi AND a.bkey = b.bkey AND a.doc_id < b.doc_id
      ), j AS (
        SELECT c.id_a, c.id_b,
          CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
          CAST(len(sa.shingles) + len(sb.shingles)
               - len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) AS jaccard
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b)
      SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.7
      ORDER BY id_a, id_b"""))

  /** SimHash near-dup pairs. Banding into maxHamming+1 chunks makes the
    * banded+verified result provably EQUAL to brute force (pigeonhole),
    * so the all-pairs DuckDB recompute below is a strict oracle. The
    * md5 token-hash mode is bit-identical to `md5_number_lower`. */
  private val dedupSimhash = Q("dedup_simhash",
    (s, d) => Dedup.simhashPairs(Tables.documents(s, d), col("doc_id"),
        col("text"), maxHamming = 8, algo = "md5")
      .orderBy(col("id_a"), col("id_b")),
    Some("""WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        FROM documents
      ), th AS (
        SELECT doc_id, md5_number_lower(tok) AS h FROM toks
      ), bits AS (
        SELECT doc_id, i,
          CASE WHEN sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) > 0
            THEN 1 ELSE 0 END AS v
        FROM th, (SELECT unnest(range(0, 64)) AS i) b
        GROUP BY doc_id, i
      ), sigs AS (
        SELECT doc_id,
          sum(CASE WHEN i < 32 THEN v * (1::BIGINT << i) ELSE 0 END) AS lo,
          sum(CASE WHEN i >= 32 THEN v * (1::BIGINT << (i - 32)) ELSE 0 END) AS hi
        FROM bits GROUP BY doc_id
      )
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS INT) AS hamming
      FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 8
      ORDER BY id_a, id_b"""))

  /** The PRODUCTION simhash operating point: maxHamming=3 → 4 chunks of
    * 16 bits (65k-value join key space; see the Dedup.simhashPairs
    * scaladoc for the radius/key-space tradeoff — r=8 over 64 bits
    * degenerates to ≤256-value chunks and is kept oracle-only). Same
    * pigeonhole guarantee: output == brute force, so the all-pairs
    * DuckDB recompute is a strict oracle. */
  private val dedupSimhashR3 = Q("dedup_simhash_r3",
    (s, d) => Dedup.simhashPairs(Tables.documents(s, d), col("doc_id"),
        col("text"), maxHamming = 3, algo = "md5")
      .orderBy(col("id_a"), col("id_b")),
    Some("""WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        FROM documents
      ), th AS (
        SELECT doc_id, md5_number_lower(tok) AS h FROM toks
      ), bits AS (
        SELECT doc_id, i,
          CASE WHEN sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) > 0
            THEN 1 ELSE 0 END AS v
        FROM th, (SELECT unnest(range(0, 64)) AS i) b
        GROUP BY doc_id, i
      ), sigs AS (
        SELECT doc_id,
          sum(CASE WHEN i < 32 THEN v * (1::BIGINT << i) ELSE 0 END) AS lo,
          sum(CASE WHEN i >= 32 THEN v * (1::BIGINT << (i - 32)) ELSE 0 END) AS hi
        FROM bits GROUP BY doc_id
      )
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS INT) AS hamming
      FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
      ORDER BY id_a, id_b"""))

  /** The scale-safe form of radius-8 simhash: 128-bit signature, 9
    * pigeonhole chunks of ~14 bits (16k-value key space instead of the
    * 64-bit form's ≤256). md5 mode derives lo/hi from one digest —
    * bit-identical to DuckDB md5_number_lower/md5_number_upper — so the
    * brute-force recompute below is again a strict oracle. */
  private val dedupSimhash128 = Q("dedup_simhash_128",
    (s, d) => Dedup.simhashPairs128(Tables.documents(s, d), col("doc_id"),
        col("text"), maxHamming = 8, algo = "md5")
      .orderBy(col("id_a"), col("id_b")),
    Some("""WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        FROM documents
      ), th AS (
        SELECT doc_id, md5_number_lower(tok) AS hl, md5_number_upper(tok) AS hu
        FROM toks
      ), bits AS (
        SELECT doc_id, i,
          CASE WHEN sum(CASE WHEN
              (CASE WHEN i < 64 THEN hl >> i ELSE hu >> (i - 64) END) & 1 = 1
            THEN 1 ELSE -1 END) > 0 THEN 1 ELSE 0 END AS v
        FROM th, (SELECT unnest(range(0, 128)) AS i) b
        GROUP BY doc_id, i
      ), sigs AS (
        SELECT doc_id,
          sum(CASE WHEN i < 32 THEN v * (1::BIGINT << i) ELSE 0 END) AS q0,
          sum(CASE WHEN i >= 32 AND i < 64 THEN v * (1::BIGINT << (i - 32)) ELSE 0 END) AS q1,
          sum(CASE WHEN i >= 64 AND i < 96 THEN v * (1::BIGINT << (i - 64)) ELSE 0 END) AS q2,
          sum(CASE WHEN i >= 96 THEN v * (1::BIGINT << (i - 96)) ELSE 0 END) AS q3
        FROM bits GROUP BY doc_id
      )
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(bit_count(xor(a.q0, b.q0)) + bit_count(xor(a.q1, b.q1))
           + bit_count(xor(a.q2, b.q2)) + bit_count(xor(a.q3, b.q3)) AS INT) AS hamming
      FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.q0, b.q0)) + bit_count(xor(a.q1, b.q1))
          + bit_count(xor(a.q2, b.q2)) + bit_count(xor(a.q3, b.q3)) <= 8
      ORDER BY id_a, id_b"""))

  /** Near-dup CLUSTERS: connected components over the r=3 simhash
    * pairs — the step between pairwise output and dropping documents.
    * The oracle recomputes the pairs (same md5 machinery as
    * dedup_simhash_r3) and closes them transitively with a recursive
    * CTE; component = min doc id, the survivor convention. */
  private val dedupCc = Q("dedup_cc",
    (s, d) => {
      // cluster EDGES, not pairs (r11 verdict #1): identical texts
      // hash identically, and a c-fold exact-dup cluster must cost
      // c−1 edges, not c·(c−1)/2 pairs — components are identical
      Dedup.dedupClusters(Dedup.simhashClusterEdges(
          Tables.documents(s, d), col("doc_id"), col("text"),
          maxHamming = 3, algo = "md5"))
        .orderBy(col("id"))
    },
    Some("""WITH RECURSIVE toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        FROM documents
      ), th AS (
        SELECT doc_id, md5_number_lower(tok) AS h FROM toks
      ), bits AS (
        SELECT doc_id, i,
          CASE WHEN sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) > 0
            THEN 1 ELSE 0 END AS v
        FROM th, (SELECT unnest(range(0, 64)) AS i) b
        GROUP BY doc_id, i
      ), sigs AS (
        SELECT doc_id,
          sum(CASE WHEN i < 32 THEN v * (1::BIGINT << i) ELSE 0 END) AS lo,
          sum(CASE WHEN i >= 32 THEN v * (1::BIGINT << (i - 32)) ELSE 0 END) AS hi
        FROM bits GROUP BY doc_id
      ), pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
      ), edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs
      ), r(id, l) AS (
        SELECT src, src FROM edges
        UNION
        SELECT r.id, e.dst FROM r JOIN edges e ON r.l = e.src
      )
      SELECT id, min(l) AS component FROM r GROUP BY id ORDER BY id"""))

  /** Leakage-safe split (r8): same md5-simhash near-dup clusters as
    * dedup_cc, split 8/1/1 by md5(cluster) against exact 2^128-scaled
    * hex thresholds — the oracle replays closure, labels, and the
    * string-compare assignment; a GROUP BY in the spec proves no
    * cluster straddles a split. */
  private val splitLeakageSafe = Q("split_leakage_safe",
    (s, d) => {
      val docs = Tables.documents(s, d)
      // collapsed cluster edges: same components as the full pair set
      val edges = Dedup.simhashClusterEdges(docs, col("doc_id"),
        col("text"), maxHamming = 3, algo = "md5")
      Dedup.leakageSafeSplit(docs, col("doc_id"), edges,
          Seq("train" -> 8, "val" -> 1, "test" -> 1))
        .orderBy(col("doc_id"))
    },
    Some("""WITH RECURSIVE toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        FROM documents
      ), th AS (
        SELECT doc_id, md5_number_lower(tok) AS h FROM toks
      ), bits AS (
        SELECT doc_id, i,
          CASE WHEN sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) > 0
            THEN 1 ELSE 0 END AS v
        FROM th, (SELECT unnest(range(0, 64)) AS i) b
        GROUP BY doc_id, i
      ), sigs AS (
        SELECT doc_id,
          sum(CASE WHEN i < 32 THEN v * (1::BIGINT << i) ELSE 0 END) AS lo,
          sum(CASE WHEN i >= 32 THEN v * (1::BIGINT << (i - 32)) ELSE 0 END) AS hi
        FROM bits GROUP BY doc_id
      ), pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
      ), edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs
      ), r(id, l) AS (
        SELECT src, src FROM edges
        UNION
        SELECT r.id, e.dst FROM r JOIN edges e ON r.l = e.src
      ), comp AS (
        SELECT id, min(l) AS component FROM r GROUP BY id
      ), labeled AS (
        SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
      )
      SELECT doc_id, cluster,
        CASE WHEN md5(CAST(cluster AS VARCHAR))
               < 'cccccccccccccccccccccccccccccccc' THEN 'train'
             WHEN md5(CAST(cluster AS VARCHAR))
               < 'e6666666666666666666666666666666' THEN 'val'
             ELSE 'test' END AS split
      FROM labeled ORDER BY doc_id"""))

  /** Quality-aware dedup survivor selection: same clusters as dedup_cc,
    * then keep the longest member per cluster (ties → min id). The
    * oracle re-derives the clusters via the recursive transitive
    * closure and replays the same window. */
  private val dedupKeepBest = Q("dedup_keep_best",
    (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.bestPerCluster(
          Dedup.dedupClusters(Dedup.simhashClusterEdges(docs,
            col("doc_id"), col("text"), maxHamming = 3, algo = "md5")),
          docs.select(col("doc_id").as("id"), col("n_chars").as("score")))
        .orderBy(col("id"))
    },
    Some("""WITH RECURSIVE toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        FROM documents
      ), th AS (
        SELECT doc_id, md5_number_lower(tok) AS h FROM toks
      ), bits AS (
        SELECT doc_id, i,
          CASE WHEN sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) > 0
            THEN 1 ELSE 0 END AS v
        FROM th, (SELECT unnest(range(0, 64)) AS i) b
        GROUP BY doc_id, i
      ), sigs AS (
        SELECT doc_id,
          sum(CASE WHEN i < 32 THEN v * (1::BIGINT << i) ELSE 0 END) AS lo,
          sum(CASE WHEN i >= 32 THEN v * (1::BIGINT << (i - 32)) ELSE 0 END) AS hi
        FROM bits GROUP BY doc_id
      ), pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
      ), edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs
      ), r(id, l) AS (
        SELECT src, src FROM edges
        UNION
        SELECT r.id, e.dst FROM r JOIN edges e ON r.l = e.src
      ), comp AS (
        SELECT id, min(l) AS component FROM r GROUP BY id
      ), ranked AS (
        SELECT c.id, c.component, d.n_chars AS score,
          row_number() OVER (PARTITION BY c.component
            ORDER BY d.n_chars DESC, c.id ASC) AS rn
        FROM comp c JOIN documents d ON d.doc_id = c.id)
      SELECT id, component, score, rn = 1 AS keep
      FROM ranked ORDER BY id"""))

  /** Hyperplane components are md5-derived constants, so the oracle
    * recomputes bucket assignment, the bucket join, and exact cosines. */
  private val dedupEmbedding = Q("dedup_embedding",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Dedup.embeddingPairs(emb, col("vec_id"), col("embedding"),
          threshold = -1.0, planes = 4, seed = 42, dim = 64, tables = 1)
        .orderBy(col("cosine").desc, col("id_a"), col("id_b"))
        .limit(20)
    },
    Some("""WITH planes AS (
        SELECT p, list_transform(range(0, 64), i ->
          (md5_number_lower('hp_42_' || p || '_' || i) >> 11)
            / 9007199254740992.0 * 2 - 1) AS hp
        FROM (SELECT unnest(range(0, 4)) AS p)
      ), v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      ), bucketed AS (
        SELECT vec_id,
          sum(CASE WHEN list_dot_product(v.e, pl.hp) >= 0
            THEN (1::BIGINT << p) ELSE 0 END) AS bucket
        FROM v, planes pl GROUP BY vec_id
      ), pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM bucketed a JOIN bucketed b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      ), sc AS (
        SELECT p.id_a, p.id_b,
          list_dot_product(va.e, vb.e) /
            (sqrt(list_dot_product(va.e, va.e)) *
             sqrt(list_dot_product(vb.e, vb.e))) AS cosine
        FROM pairs p
        JOIN v va ON va.vec_id = p.id_a
        JOIN v vb ON vb.vec_id = p.id_b)
      SELECT id_a, id_b, cosine FROM sc
      ORDER BY cosine DESC, id_a, id_b LIMIT 20"""))

  // ---------------------------------------------------------------------
  // Similarity search over embeddings
  // ---------------------------------------------------------------------
  private def queryVec(s: SparkSession, d: String): Seq[Float] =
    Tables.embeddings(s, d).filter(col("vec_id") === 0)
      .select("embedding").head.getSeq[Float](0)

  /** Product-quantization codes + reconstruction error (r8): the
    * oracle rebuilds the md5-sampled codebook and replays the
    * per-subspace squared-L2 argmin and the m-ordered error sum in
    * DuckDB — encoding, tie-breaks, and float arithmetic all
    * externally verified. k pinned to 16 for the oracle (production
    * default 256). */
  private val embedPq = Q("embed_pq",
    (s, d) => Similarity.pqEncode(Tables.embeddings(s, d),
        col("vec_id"), col("embedding"), k = 16, m = 8)
      .orderBy(col("vec_id")),
    Some("""WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      ), cb AS (
        SELECT row_number() OVER
            (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j,
          CAST(embedding AS DOUBLE[]) AS ce
        FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
      ), sub AS (
        SELECT v.vec_id, mm.m, cb.j,
          list_sum(list_transform(range(1, 9), d ->
            (v.e[mm.m * 8 + d] - cb.ce[mm.m * 8 + d]) *
            (v.e[mm.m * 8 + d] - cb.ce[mm.m * 8 + d]))) AS dist
        FROM v, (SELECT unnest(range(0, 8)) AS m) mm, cb
      ), best AS (
        SELECT vec_id, m, j, dist,
          row_number() OVER (PARTITION BY vec_id, m
            ORDER BY dist ASC, j ASC) AS rn
        FROM sub
      )
      SELECT vec_id,
        string_agg(CAST(j AS VARCHAR), '_' ORDER BY m) AS codes,
        list_sum(list(dist ORDER BY m)) / 64 AS mse
      FROM best WHERE rn = 1 GROUP BY vec_id ORDER BY vec_id"""))

  /** One Lloyd iteration as DuckDB CTEs (embed_pq_trained oracle): from
    * codebook `cbIn`, assignment = per-subspace squared-L2 argmin
    * (ties → smaller code), update = integerized mean per (dim, code) —
    * `floor(Σ floor(x·2^20) / cnt) / 2^20` rounded to FLOAT — empty
    * codes keep their previous value. Integer sums make the replay
    * exact regardless of either engine's aggregation order. */
  private def pqLloydIterSql(i: Int, cbIn: String, cbOut: String): String =
    s"""sub$i AS (
        SELECT v.vec_id, mm.m, c.j,
          list_sum(list_transform(range(1, 9), d ->
            (v.e[mm.m * 8 + d] - c.ce[mm.m * 8 + d]) *
            (v.e[mm.m * 8 + d] - c.ce[mm.m * 8 + d]))) AS dist
        FROM v, (SELECT unnest(range(0, 8)) AS m) mm, $cbIn c
      ), asg$i AS (
        SELECT vec_id, m, j FROM (
          SELECT vec_id, m, j, row_number() OVER (PARTITION BY vec_id, m
            ORDER BY dist ASC, j ASC) AS rn FROM sub$i)
        WHERE rn = 1
      ), upd$i AS (
        SELECT a.j, dd.d0,
          SUM(CAST(FLOOR(v.e[dd.d0 + 1] * 1048576.0) AS BIGINT)) AS fs,
          COUNT(*) AS cnt
        FROM asg$i a JOIN v ON a.vec_id = v.vec_id
        JOIN dims dd ON dd.d0 // 8 = a.m
        GROUP BY a.j, dd.d0
      ), $cbOut AS (
        SELECT c.j, list(CAST(COALESCE(
            CAST(CAST((u.fs - (((u.fs % u.cnt) + u.cnt) % u.cnt)) / u.cnt
              AS BIGINT) / 1048576.0 AS FLOAT),
            CAST(c.ce[dd.d0 + 1] AS FLOAT)) AS DOUBLE) ORDER BY dd.d0) AS ce
        FROM $cbIn c CROSS JOIN dims dd
        LEFT JOIN upd$i u ON u.j = c.j AND u.d0 = dd.d0
        GROUP BY c.j
      )"""

  /** Trained-codebook PQ (r9): two integerized Lloyd iterations on top
    * of the md5-sample init, then the same encode as embed_pq — the
    * oracle replays BOTH training iterations (assignment, integer-sum
    * update, float rounding) and the final encode exactly. */
  private val embedPqTrained = Q("embed_pq_trained",
    (s, d) => Similarity.pqEncodeTrained(Tables.embeddings(s, d),
        col("vec_id"), col("embedding"), k = 16, m = 8, iters = 2)
      .orderBy(col("vec_id")),
    Some(s"""WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      ), dims AS (SELECT unnest(range(0, 64)) AS d0
      ), cb0 AS (
        SELECT row_number() OVER
            (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j,
          CAST(embedding AS DOUBLE[]) AS ce
        FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
      ), ${pqLloydIterSql(1, "cb0", "cb1")}
      , ${pqLloydIterSql(2, "cb1", "cb2")}
      , subF AS (
        SELECT v.vec_id, mm.m, c.j,
          list_sum(list_transform(range(1, 9), d ->
            (v.e[mm.m * 8 + d] - c.ce[mm.m * 8 + d]) *
            (v.e[mm.m * 8 + d] - c.ce[mm.m * 8 + d]))) AS dist
        FROM v, (SELECT unnest(range(0, 8)) AS m) mm, cb2 c
      ), bestF AS (
        SELECT vec_id, m, j, dist,
          row_number() OVER (PARTITION BY vec_id, m
            ORDER BY dist ASC, j ASC) AS rn
        FROM subF
      )
      SELECT vec_id,
        string_agg(CAST(j AS VARCHAR), '_' ORDER BY m) AS codes,
        list_sum(list(dist ORDER BY m)) / 64 AS mse
      FROM bestF WHERE rn = 1 GROUP BY vec_id ORDER BY vec_id"""))

  /** PQ asymmetric-distance top-k (r8): the oracle rebuilds codebook +
    * codes (embed_pq CTEs), the query's per-subspace LUT, and the
    * m-ordered ADC sum — ranking and tie-breaks replayed exactly. */
  private val annPq = Q("ann_pq",
    (s, d) => Similarity.pqTopK(Tables.embeddings(s, d), col("embedding"),
      col("vec_id"), queryVec(s, d), 10, pqK = 16, m = 8),
    Some("""WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      ), cb AS (
        SELECT row_number() OVER
            (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j,
          CAST(embedding AS DOUBLE[]) AS ce
        FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
      ), sub AS (
        SELECT v.vec_id, mm.m, cb.j,
          list_sum(list_transform(range(1, 9), d ->
            (v.e[mm.m * 8 + d] - cb.ce[mm.m * 8 + d]) *
            (v.e[mm.m * 8 + d] - cb.ce[mm.m * 8 + d]))) AS dist
        FROM v, (SELECT unnest(range(0, 8)) AS m) mm, cb
      ), best AS (
        SELECT vec_id, m, j, dist,
          row_number() OVER (PARTITION BY vec_id, m
            ORDER BY dist ASC, j ASC) AS rn
        FROM sub
      ), q AS (SELECT e AS qe FROM v WHERE vec_id = 0
      ), lut AS (
        SELECT mm.m, cb.j,
          list_sum(list_transform(range(1, 9), d ->
            (q.qe[mm.m * 8 + d] - cb.ce[mm.m * 8 + d]) *
            (q.qe[mm.m * 8 + d] - cb.ce[mm.m * 8 + d]))) AS ld
        FROM q, (SELECT unnest(range(0, 8)) AS m) mm, cb
      ), adc AS (
        SELECT b.vec_id, list_sum(list(l.ld ORDER BY b.m)) AS adc
        FROM best b JOIN lut l ON b.m = l.m AND b.j = l.j
        WHERE b.rn = 1 GROUP BY b.vec_id
      )
      SELECT vec_id, adc FROM adc ORDER BY adc ASC, vec_id ASC LIMIT 10"""))

  /** IVF-PQ ANN (r9): coarse-cell probe + per-cell residual-PQ ADC —
    * the oracle replays the ENTIRE index: cell sample, cosine-argmax
    * assignment (ties → larger cid), FLOAT residuals, the residual
    * codebook (the sample's own residuals), per-subspace argmin codes,
    * the query's probe ranking (ties → smaller cid) and per-cell LUT,
    * and the m-ordered ADC fold. */
  private val annIvfPq = Q("ann_ivfpq",
    (s, d) => Similarity.ivfPqTopK(Tables.embeddings(s, d), col("embedding"),
      col("vec_id"), queryVec(s, d), 10, nCells = 8, nProbe = 3,
      pqK = 16, m = 8),
    Some("""WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, embedding AS ef
        FROM embeddings
      ), cells AS (
        SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cd,
          embedding AS cf
        FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8
      ), asg AS (
        SELECT vec_id, cid FROM (
          SELECT v.vec_id, c.cid, row_number() OVER (PARTITION BY v.vec_id
            ORDER BY
              list_sum(list_transform(range(1, 65), i -> v.e[i] * c.cd[i])) /
              (sqrt(list_sum(list_transform(range(1, 65), i -> v.e[i] * v.e[i]))) *
               sqrt(list_sum(list_transform(range(1, 65), i -> c.cd[i] * c.cd[i]))))
              DESC, c.cid DESC) AS rn
          FROM v, cells c)
        WHERE rn = 1
      ), res AS (
        SELECT a.vec_id, a.cid,
          list_transform(range(1, 65), i -> v.ef[i] - c.cf[i]) AS rf
        FROM asg a JOIN v USING (vec_id) JOIN cells c ON a.cid = c.cid
      ), samp AS (
        SELECT vec_id, row_number() OVER
            (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j
        FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
      ), rcb AS (
        SELECT s.j, r.rf AS cb FROM samp s JOIN res r ON s.vec_id = r.vec_id
      ), codes AS (
        SELECT vec_id, cid, m, j FROM (
          SELECT r.vec_id, r.cid, mm.m, b.j,
            row_number() OVER (PARTITION BY r.vec_id, mm.m
              ORDER BY list_sum(list_transform(range(1, 9), d ->
                (CAST(r.rf[mm.m * 8 + d] AS DOUBLE) - CAST(b.cb[mm.m * 8 + d] AS DOUBLE)) *
                (CAST(r.rf[mm.m * 8 + d] AS DOUBLE) - CAST(b.cb[mm.m * 8 + d] AS DOUBLE))))
                ASC, b.j ASC) AS rn
          FROM res r, (SELECT unnest(range(0, 8)) AS m) mm, rcb b)
        WHERE rn = 1
      ), q AS (SELECT e AS qe, ef AS qf FROM v WHERE vec_id = 0
      ), probe AS (
        SELECT c.cid, c.cf FROM q, cells c
        ORDER BY
          list_sum(list_transform(range(1, 65), i -> q.qe[i] * c.cd[i])) /
          (sqrt(list_sum(list_transform(range(1, 65), i -> q.qe[i] * q.qe[i]))) *
           sqrt(list_sum(list_transform(range(1, 65), i -> c.cd[i] * c.cd[i]))))
          DESC, c.cid ASC
        LIMIT 3
      ), qres AS (
        SELECT p.cid, list_transform(range(1, 65), i -> q.qf[i] - p.cf[i]) AS qr
        FROM q, probe p
      ), lut AS (
        SELECT s.cid, mm.m, b.j,
          list_sum(list_transform(range(1, 9), d ->
            (CAST(s.qr[mm.m * 8 + d] AS DOUBLE) - CAST(b.cb[mm.m * 8 + d] AS DOUBLE)) *
            (CAST(s.qr[mm.m * 8 + d] AS DOUBLE) - CAST(b.cb[mm.m * 8 + d] AS DOUBLE)))) AS ld
        FROM qres s, (SELECT unnest(range(0, 8)) AS m) mm, rcb b
      )
      SELECT c.vec_id, list_sum(list(l.ld ORDER BY c.m)) AS adc
      FROM codes c JOIN lut l ON c.cid = l.cid AND c.m = l.m AND c.j = l.j
      GROUP BY c.vec_id
      ORDER BY adc ASC, vec_id ASC LIMIT 10"""))

  private val annBruteForce = Q("ann_brute_force",
    (s, d) => Similarity.bruteForceTopK(Tables.embeddings(s, d),
        col("embedding"), col("vec_id"), queryVec(s, d), 10),
    Some("""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
      scored AS (
        SELECT vec_id,
          list_dot_product(CAST(embedding AS DOUBLE[]), qv) /
          (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
           sqrt(list_dot_product(qv, qv))) AS cos
        FROM embeddings, q)
      SELECT vec_id, cos FROM scored ORDER BY cos DESC, vec_id LIMIT 10"""))

  /** Single-probe LSH top-k: the oracle recomputes every vector's bucket
    * and the query's bucket from the same md5-derived hyperplanes and
    * replicates the probe + ranking exactly. */
  private val annLsh = Q("ann_lsh",
    (s, d) => Similarity.lshTopK(Tables.embeddings(s, d), col("embedding"),
      col("vec_id"), queryVec(s, d), 10, planes = 4, seed = 42, tables = 1),
    Some("""WITH planes AS (
        SELECT p, list_transform(range(0, 64), i ->
          (md5_number_lower('hp_42_' || p || '_' || i) >> 11)
            / 9007199254740992.0 * 2 - 1) AS hp
        FROM (SELECT unnest(range(0, 4)) AS p)
      ), v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      ), bk AS (
        SELECT vec_id,
          sum(CASE WHEN list_dot_product(v.e, pl.hp) >= 0
            THEN (1::BIGINT << p) ELSE 0 END) AS bucket
        FROM v, planes pl GROUP BY vec_id
      ), q AS (
        SELECT v.e AS qe, bk.bucket AS qb
        FROM v JOIN bk ON v.vec_id = bk.vec_id WHERE v.vec_id = 0)
      SELECT v.vec_id,
        list_dot_product(v.e, q.qe) /
          (sqrt(list_dot_product(v.e, v.e)) *
           sqrt(list_dot_product(q.qe, q.qe))) AS cos
      FROM v JOIN bk ON v.vec_id = bk.vec_id, q
      WHERE bk.bucket = q.qb
      ORDER BY cos DESC, v.vec_id LIMIT 10"""))

  /** IVF with md5-hash-sampled centroids: the oracle replicates centroid
    * choice, nearest-centroid assignment (ties -> max cid, matching the
    * struct array_max order), the probe set, and final ranking. */
  private val annIvf = Q("ann_ivf",
    (s, d) => Similarity.ivfTopK(Tables.embeddings(s, d), col("embedding"),
      col("vec_id"), queryVec(s, d), 10, nCentroids = 16, nProbe = 4),
    Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      ), c AS (
        SELECT vec_id AS cid, e AS ce FROM v
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
      ), q AS (SELECT e AS qe FROM v WHERE vec_id = 0
      ), probe AS (
        SELECT cid FROM c, q
        ORDER BY list_dot_product(ce, qe) /
          (sqrt(list_dot_product(ce, ce)) * sqrt(list_dot_product(qe, qe))) DESC,
          cid
        LIMIT 4
      ), assigned AS (
        SELECT vec_id, cid FROM (
          SELECT v.vec_id, c.cid,
            row_number() OVER (PARTITION BY v.vec_id ORDER BY
              list_dot_product(v.e, c.ce) /
                (sqrt(list_dot_product(v.e, v.e)) *
                 sqrt(list_dot_product(c.ce, c.ce))) DESC, c.cid DESC) AS rn
          FROM v, c) WHERE rn = 1)
      SELECT v.vec_id,
        list_dot_product(v.e, q.qe) /
          (sqrt(list_dot_product(v.e, v.e)) *
           sqrt(list_dot_product(q.qe, q.qe))) AS cos
      FROM v JOIN assigned a ON a.vec_id = v.vec_id, q
      WHERE a.cid IN (SELECT cid FROM probe)
      ORDER BY cos DESC, v.vec_id LIMIT 10"""))

  /** SemDeDup-style semantic dedup: nearest-centroid clustering (same
    * deterministic md5-sampled centroids as ann_ivf) then pairwise
    * cosine only within a cluster; top-25 most-similar pairs for a
    * stable oracle on the near-random synthetic embeddings (real
    * corpora use threshold ~0.97). */
  private val dedupSemantic = Q("dedup_semantic",
    (s, d) => Similarity.semanticPairs(Tables.embeddings(s, d),
        col("vec_id"), col("embedding"), nCentroids = 64, threshold = -1.0)
      .orderBy(col("cos").desc, col("id_a"), col("id_b"))
      .limit(25),
    Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      ), c AS (
        SELECT vec_id AS cid, e AS ce FROM v
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 64
      ), assigned AS (
        SELECT vec_id, cid FROM (
          SELECT v.vec_id, c.cid,
            row_number() OVER (PARTITION BY v.vec_id ORDER BY
              list_dot_product(v.e, c.ce) /
                (sqrt(list_dot_product(v.e, v.e)) *
                 sqrt(list_dot_product(c.ce, c.ce))) DESC, c.cid DESC) AS rn
          FROM v, c) WHERE rn = 1)
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        list_dot_product(va.e, vb.e) /
          (sqrt(list_dot_product(va.e, va.e)) *
           sqrt(list_dot_product(vb.e, vb.e))) AS cos
      FROM assigned a
      JOIN assigned b ON a.cid = b.cid AND a.vec_id < b.vec_id
      JOIN v va ON va.vec_id = a.vec_id
      JOIN v vb ON vb.vec_id = b.vec_id
      ORDER BY cos DESC, id_a, id_b LIMIT 25"""))

  /** SemDeDup survivors: keep the lowest id of every above-threshold
    * within-cluster similar group; 0.4 on the near-random synthetic
    * embeddings drops a small real set. */
  private val dedupSemanticKeep = Q("dedup_semantic_keep",
    (s, d) => Similarity.semanticSurvivors(Tables.embeddings(s, d),
        col("vec_id"), col("embedding"), nCentroids = 64, threshold = 0.4)
      .select(col("vec_id")).orderBy(col("vec_id")),
    Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      ), c AS (
        SELECT vec_id AS cid, e AS ce FROM v
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 64
      ), assigned AS (
        SELECT vec_id, cid FROM (
          SELECT v.vec_id, c.cid,
            row_number() OVER (PARTITION BY v.vec_id ORDER BY
              list_dot_product(v.e, c.ce) /
                (sqrt(list_dot_product(v.e, v.e)) *
                 sqrt(list_dot_product(c.ce, c.ce))) DESC, c.cid DESC) AS rn
          FROM v, c) WHERE rn = 1
      ), dropped AS (
        SELECT DISTINCT b.vec_id FROM assigned a
        JOIN assigned b ON a.cid = b.cid AND a.vec_id < b.vec_id
        JOIN v va ON va.vec_id = a.vec_id
        JOIN v vb ON vb.vec_id = b.vec_id
        WHERE list_dot_product(va.e, vb.e) /
            (sqrt(list_dot_product(va.e, va.e)) *
             sqrt(list_dot_product(vb.e, vb.e))) >= 0.4)
      SELECT vec_id FROM v
      WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
      ORDER BY vec_id"""))

  /** patternize (patternize.c — pattern MINING): cluster messages by
    * (token count, first token), generalize disagreeing positions to a
    * wildcard, emit template + support. Two map-side-combinable
    * aggregations, no driver iteration. */
  private val patternizeQ = Q("patternize",
    (s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("message", concat(
          col("event_type"), lit(" user u"), col("user_id"),
          lit(" from 10.0."), col("user_id") % 200, lit(".7")))
      graft.patterndb.Patternize.mine(ev, col("message"))
        .orderBy(col("template"))
    },
    Some("""WITH toks AS (
        SELECT string_split(event_type || ' user u' || user_id ||
          ' from 10.0.' || (user_id % 200) || '.7', ' ') AS w
        FROM events
      ), keyed AS (
        SELECT w, len(w) AS n, w[1] AS t0 FROM toks
      ), pos AS (
        SELECT n, t0, i AS pos, w[i] AS tok
        FROM keyed, unnest(range(1, len(w) + 1)) AS u(i)
      ), per_pos AS (
        SELECT n, t0, pos, count(DISTINCT tok) AS nd, min(tok) AS tok1,
          count(*) AS sup
        FROM pos GROUP BY n, t0, pos
      ), tmpl AS (
        SELECT n, t0,
          string_agg(CASE WHEN nd = 1 THEN tok1 ELSE '@ANYSTRING@' END,
            ' ' ORDER BY pos) AS template,
          max(sup) AS support
        FROM per_pos GROUP BY n, t0)
      SELECT template, support FROM tmpl ORDER BY template"""))

  /** SLCT step 1 (ptz_find_frequent_words): position-keyed word
    * counts over the delimiter SET, support-filtered — the oracle
    * replays the split (empty tokens positioned and counted, like
    * g_strsplit_set) and the count >= support cut. */
  private val patternizeWords = Q("patternize_words",
    (s, d) => graft.patterndb.Patternize.frequentWords(
        Tables.documents(s, d), col("text"), support = 3)
      .orderBy(col("pos"), col("word")),
    Some("""WITH s AS (
        SELECT string_split_regex(text, '[ :&~?!\[\]=,;()''"]') AS w
        FROM documents)
      SELECT CAST(k - 1 AS INT) AS pos, w[k] AS word, COUNT(*) AS cnt
      FROM s, unnest(range(1, len(w) + 1)) AS t(k)
      GROUP BY 1, 2 HAVING COUNT(*) >= 3
      ORDER BY pos, word"""))

  // ---------------------------------------------------------------------
  // Text analysis
  // ---------------------------------------------------------------------
  private val textStats = Q("text_stats",
    (s, d) => {
      val docs = Tables.documents(s, d)
      docs.select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.qualityMetrics(col("text")).as("m"))
        .select(col("doc_id"), col("n_tokens"),
          col("m.n_chars").as("n_chars"),
          col("m.n_stopwords").as("n_stopwords"),
          col("m.chars_per_word").as("chars_per_word"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
      CAST(len(list_filter(string_split(trim(text), ' '), t -> t <> '')) AS INT) AS n_tokens,
      length(text) AS n_chars,
      CAST(len(list_filter(string_split(trim(text), ' '),
        t -> t IN ('the','a','of','and','is','to','in','that'))) AS INT) AS n_stopwords,
      CAST(length(text) AS DOUBLE) /
        CAST(len(list_filter(string_split(trim(text), ' '), t -> t <> '')) AS DOUBLE) AS chars_per_word
      FROM documents ORDER BY doc_id"""))

  /** Character-diversity quality signals (compiled single pass): the
    * oracle rebuilds each doc's codepoint histogram in SQL. The hashed
    * columns are EXACT integers — n, distinct, and the Σc² collision
    * index (Rényi-2 numerator) — because a cross-engine Shannon ln-sum
    * differs in the last ulp (libm vs JVM ln + engine-dependent sum
    * order, observed live at sf0.01 row 3); the Shannon double stays
    * in the operator API under spec cover. */
  private val textCharEntropy = Q("text_char_entropy",
    (s, d) => {
      val docs = Tables.documents(s, d)
      docs.select(col("doc_id"),
          TextAnalysis.charEntropy(col("text")).as("ce"))
        .select(col("doc_id"),
          col("ce.n_chars").as("n_chars"),
          col("ce.distinct_chars").as("distinct_chars"),
          col("ce.collision").as("collision"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH ch AS (
        SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents
      ), cnt AS (
        SELECT doc_id, count(*) AS cn FROM ch GROUP BY doc_id, c
      ), agg AS (
        SELECT doc_id, sum(cn) AS n, count(*) AS dc,
          sum(cn * cn) AS coll
        FROM cnt GROUP BY doc_id
      )
      SELECT d.doc_id,
        CAST(coalesce(a.n, 0) AS BIGINT) AS n_chars,
        CAST(coalesce(a.dc, 0) AS INT) AS distinct_chars,
        CAST(coalesce(a.coll, 0) AS BIGINT) AS collision
      FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
      ORDER BY d.doc_id"""))

  private val textLangid = Q("text_langid",
    (s, d) => {
      val docs = Tables.documents(s, d)
      docs.select(col("doc_id"),
          TextAnalysis.langId(col("text")).getField("lang").as("lang_guess"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
      hits AS (SELECT doc_id,
        ${TextAnalysis.markers.toSeq.sortBy(_._1).zipWithIndex.map { case ((l, ws), i) =>
          val set = ws.map(w => s"'$w'").mkString(",")
          // rank = hits*10 + priority (alphabetical tie-break), mirrors langId
          s"len(list_filter(w, t -> t IN ($set))) * 10 + ${TextAnalysis.markers.size - 1 - i} AS r_$l"
        }.mkString(", ")}
        FROM toks)
      SELECT doc_id, CASE
        WHEN r_de >= r_en AND r_de >= r_es AND r_de >= r_fr THEN 'de'
        WHEN r_en >= r_es AND r_en >= r_fr THEN 'en'
        WHEN r_es >= r_fr THEN 'es' ELSE 'fr' END AS lang_guess
      FROM hits ORDER BY doc_id"""))

  private val textTokensBpe = Q("text_tokens_bpe",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("ws_tokens"),
        TextAnalysis.bpeishTokenCount(col("text")).cast("int").as("bpe_tokens"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
      CAST(len(list_filter(string_split(trim(text), ' '), t -> t <> '')) AS INT) AS ws_tokens,
      CAST(len(regexp_extract_all(text,
        '''(?:[sdmt]|ll|ve|re)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+')) AS INT) AS bpe_tokens
      FROM documents ORDER BY doc_id"""))

  /** The pre-tokenizer regex as a DuckDB SQL string literal (the
    * leading contraction quote doubles). */
  private val bpeSqlPattern =
    "'''(?:[sdmt]|ll|ve|re)| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+'"

  /** One BPE training iteration as DuckDB CTEs: count adjacent symbol
    * pairs weighted by piece frequency (per occurrence, before
    * merging), pick max (count DESC, pair lexicographic), apply as a
    * literal left-to-right replace — SQL replace()'s own semantics. */
  private def bpeStageSql(k: Int): String =
    s"""pc$k AS (
        SELECT s.sy[i] AS a, s.sy[i + 1] AS b, SUM(s.cnt) AS c
        FROM (SELECT string_split(w, chr(1)) AS sy, cnt FROM w${k - 1}) s,
             unnest(range(1, len(s.sy))) AS t(i)
        GROUP BY a, b
      ), m$k AS MATERIALIZED (SELECT a, b FROM pc$k ORDER BY c DESC, a ASC, b ASC LIMIT 1),
      w$k AS MATERIALIZED (
        SELECT w${k - 1}.piece, w${k - 1}.cnt,
          CASE WHEN j.a IS NULL THEN w${k - 1}.w
               ELSE replace(w${k - 1}.w, j.a || chr(1) || j.b, j.a || j.b)
          END AS w
        FROM w${k - 1} LEFT JOIN m$k j ON TRUE
      )"""

  /** One application stage: apply merge k to the whole corpus. */
  private def bpeApplySql(k: Int): String =
    s"""a$k AS MATERIALIZED (
        SELECT a${k - 1}.doc_id,
          CASE WHEN j.a IS NULL THEN a${k - 1}.w
               ELSE replace(a${k - 1}.w, j.a || chr(1) || j.b, j.a || j.b)
          END AS w
        FROM a${k - 1} LEFT JOIN m$k j ON TRUE
      )"""

  /** TRAINED BPE (r9): Sennrich merges learned on the md5 sample
    * (driver-bounded, deterministic) and applied corpus-wide as chained
    * literal replaces — the oracle replays ALL 16 training iterations
    * (weighted pair counts, tie-breaks, merge application) and the full
    * corpus application in DuckDB; a hash match proves the trained
    * tokenizer end to end. */
  private val textTokensBpeTrained = Q("text_tokens_bpe_trained",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val merges = TextAnalysis.bpeTrain(docs, col("doc_id"), col("text"),
        nMerges = 16, sampleN = 64)
      docs.select(col("doc_id"),
          TextAnalysis.bpeSubwordCount(col("text"), merges).as("c"))
        .select(col("doc_id"), col("c.n_pieces").as("n_pieces"),
          col("c.n_subwords").as("n_subwords"))
        .filter(col("n_pieces") > 0)
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH samp AS (
        SELECT text FROM documents
        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 64
      ), piecesT AS (
        SELECT p AS piece, COUNT(*) AS cnt
        FROM (SELECT unnest(regexp_extract_all(text, $bpeSqlPattern)) AS p
              FROM samp)
        GROUP BY p
      ), w0 AS MATERIALIZED (
        SELECT piece, cnt,
          rtrim(regexp_replace(piece, '(.)', '\\1' || chr(1), 'g'), chr(1)) AS w
        FROM piecesT
      ), ${(1 to 16).map(bpeStageSql).mkString(", ")}
      , docp AS (
        SELECT doc_id, unnest(regexp_extract_all(text, $bpeSqlPattern)) AS p
        FROM documents
      ), a0 AS MATERIALIZED (
        SELECT doc_id,
          rtrim(regexp_replace(p, '(.)', '\\1' || chr(1), 'g'), chr(1)) AS w
        FROM docp
      ), ${(1 to 16).map(bpeApplySql).mkString(", ")}
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pieces,
        CAST(SUM(len(string_split(w, chr(1)))) AS BIGINT) AS n_subwords
      FROM a16 GROUP BY doc_id ORDER BY doc_id"""))

  private val textQualityFilter = Q("text_quality_filter",
    (s, d) => Tables.documents(s, d)
      .filter(TextAnalysis.qualityFilter(col("text"), minWords = 20,
        maxCharsPerWord = 10, maxPunctRatio = 0.05))
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id")),
    Some("""WITH m AS (
        SELECT doc_id, n_chars,
          len(list_filter(string_split(trim(text), ' '), t -> t <> '')) AS n_words,
          length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS n_punct,
          length(text) AS nc
        FROM documents)
      SELECT doc_id, n_chars FROM m
      WHERE n_words >= 20
        AND CAST(nc AS DOUBLE) / CAST(n_words AS DOUBLE) <= 10
        AND CAST(n_punct AS DOUBLE) / CAST(greatest(nc, 1) AS DOUBLE) <= 0.05
      ORDER BY doc_id"""))

  private val sampleHash = Q("sample_hash",
    (s, d) => Tables.events(s, d)
      .filter(TextAnalysis.hashSample(col("event_id").cast("string"), 0.25, "seed1"))
      .select(col("event_id"), col("event_type"))
      .orderBy(col("event_id")),
    Some(s"""SELECT event_id, event_type FROM events
      WHERE CAST(('0x' || substring(md5('seed1' || event_id), 1, 6)) AS BIGINT)
            < ${(0.25 * (1 << 24)).toLong}
      ORDER BY event_id"""))

  /** Stratified deterministic sampling: per-stratum md5-bucket rates
    * (language/source-balanced subcorpora with reproducible
    * membership); the oracle recomputes every decision. */
  private val sampleStratified = Q("sample_stratified",
    (s, d) => Tables.events(s, d)
      .filter(TextAnalysis.stratifiedHashSample(col("event_id").cast("string"),
        col("event_type"),
        Map("click" -> 0.5, "view" -> 0.1, "error" -> 1.0),
        defaultRate = 0.05, seed = "s2"))
      .select(col("event_id"), col("event_type"))
      .orderBy(col("event_id")),
    Some(s"""SELECT event_id, event_type FROM events
      WHERE CAST(('0x' || substring(md5('s2' || event_id), 1, 6)) AS BIGINT)
        < CASE event_type
            WHEN 'click' THEN ${(0.5 * (1 << 24)).toLong}
            WHEN 'view' THEN ${(0.1 * (1 << 24)).toLong}
            WHEN 'error' THEN ${(1.0 * (1 << 24)).toLong}
            ELSE ${(0.05 * (1 << 24)).toLong} END
      ORDER BY event_id"""))

  /** Benchmark decontamination: distinct word-3-gram overlap between
    * the training split and a held-out "benchmark" split (doc_id % 37)
    * — the standard eval-leakage check. Spark joins on xxhash64'd
    * grams (fixed-width, benchmark side broadcast); the oracle joins
    * the gram strings directly — identical counts barring 2^-64
    * collisions. */
  private val decontaminate = Q("decontaminate",
    (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contaminationFlags(
          docs.filter(col("doc_id") % 37 =!= 0), col("doc_id"), col("text"),
          docs.filter(col("doc_id") % 37 === 0), col("text"), k = 3)
        .orderBy(col("doc_id"))
    },
    Some("""WITH toks AS (
        SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
      ), g AS (
        SELECT doc_id, list_distinct(list_transform(
          range(1, greatest(len(w) - 2, 1) + 1),
          i -> array_to_string(w[i:i+2], ' '))) AS gs FROM toks
      ), bg AS (
        SELECT DISTINCT unnest(gs) AS gram FROM g WHERE doc_id % 37 = 0
      ), dg AS (
        SELECT doc_id, unnest(gs) AS gram FROM g WHERE doc_id % 37 <> 0
      )
      SELECT doc_id, count(*) AS n_contaminated
      FROM dg JOIN bg USING (gram)
      GROUP BY doc_id ORDER BY doc_id"""))

  /** Per-doc contamination ratio + threshold drop — one left-join
    * aggregation yields total and contaminated distinct-gram counts
    * (the report-and-drop decontamination variant). */
  private val decontaminateFrac = Q("decontaminate_frac",
    (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contaminationFraction(
          docs.filter(col("doc_id") % 37 =!= 0), col("doc_id"), col("text"),
          docs.filter(col("doc_id") % 37 === 0), col("text"), k = 3,
          threshold = 0.5)
        .orderBy(col("doc_id"))
    },
    Some("""WITH toks AS (
        SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
      ), g AS (
        SELECT doc_id, list_distinct(list_transform(
          range(1, greatest(len(w) - 2, 1) + 1),
          i -> array_to_string(w[i:i+2], ' '))) AS gs FROM toks
      ), bg AS (
        SELECT DISTINCT unnest(gs) AS gram FROM g WHERE doc_id % 37 = 0
      ), dg AS (
        SELECT doc_id, unnest(gs) AS gram FROM g WHERE doc_id % 37 <> 0
      )
      SELECT dg.doc_id, count(*) AS n_grams,
        count(bg.gram) AS n_contaminated,
        CAST(count(bg.gram) AS DOUBLE) / count(*) AS contamination,
        (CAST(count(bg.gram) AS DOUBLE) / count(*)) >= 0.5 AS dropped
      FROM dg LEFT JOIN bg ON dg.gram = bg.gram
      GROUP BY dg.doc_id ORDER BY dg.doc_id"""))

  /** Semantic decontamination (r9): the n-gram family's embedding
    * sibling — flag corpus vectors whose cosine to ANY benchmark vector
    * (vec_id % 50 == 0 stands in for the eval set) clears the
    * threshold. The oracle replays the argmax (ties → larger bench id)
    * and the float chain exactly. */
  private val decontaminateSemantic = Q("decontaminate_semantic",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Dedup.semanticContamination(
          emb.filter(col("vec_id") % 50 =!= 0), col("vec_id"), col("embedding"),
          emb.filter(col("vec_id") % 50 === 0), col("vec_id"), col("embedding"),
          threshold = 0.35)
        .orderBy(col("doc_id"))
    },
    Some("""WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      ), best AS (
        SELECT vec_id AS doc_id, bid AS bench_id, cos FROM (
          SELECT c.vec_id, b.vec_id AS bid,
            list_sum(list_transform(range(1, 65), i -> c.e[i] * b.e[i])) /
            (sqrt(list_sum(list_transform(range(1, 65), i -> c.e[i] * c.e[i]))) *
             sqrt(list_sum(list_transform(range(1, 65), i -> b.e[i] * b.e[i])))) AS cos,
            row_number() OVER (PARTITION BY c.vec_id
              ORDER BY
                list_sum(list_transform(range(1, 65), i -> c.e[i] * b.e[i])) /
                (sqrt(list_sum(list_transform(range(1, 65), i -> c.e[i] * c.e[i]))) *
                 sqrt(list_sum(list_transform(range(1, 65), i -> b.e[i] * b.e[i]))))
                DESC, b.vec_id DESC) AS rn
          FROM v c, v b
          WHERE c.vec_id % 50 <> 0 AND b.vec_id % 50 = 0)
        WHERE rn = 1)
      SELECT doc_id, bench_id, cos FROM best
      WHERE cos >= 0.35 ORDER BY doc_id"""))

  /** [[decontaminate]]'s Bloom-prefiltered scale path: identical
    * result (the exact semi-join removes the Bloom's false positives),
    * same oracle — what changes is the plan: the corpus grams are
    * filtered by a broadcast-once Bloom BEFORE any shuffle and the
    * exact join runs un-broadcast (the big-bench regime). */
  private val decontaminateBloom = Q("decontaminate_bloom",
    (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contaminationFlagsBloom(
          docs.filter(col("doc_id") % 37 =!= 0), col("doc_id"), col("text"),
          docs.filter(col("doc_id") % 37 === 0), col("text"), k = 3)
        .orderBy(col("doc_id"))
    },
    Some("""WITH toks AS (
        SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
      ), g AS (
        SELECT doc_id, list_distinct(list_transform(
          range(1, greatest(len(w) - 2, 1) + 1),
          i -> array_to_string(w[i:i+2], ' '))) AS gs FROM toks
      ), bg AS (
        SELECT DISTINCT unnest(gs) AS gram FROM g WHERE doc_id % 37 = 0
      ), dg AS (
        SELECT doc_id, unnest(gs) AS gram FROM g WHERE doc_id % 37 <> 0
      )
      SELECT doc_id, count(*) AS n_contaminated
      FROM dg JOIN bg USING (gram)
      GROUP BY doc_id ORDER BY doc_id"""))

  /** As-of join: each non-signup event picks up the latest signup of
    * the same user at or before its timestamp (the "dimension value in
    * force at event time" join). Spark computes it with ONE key shuffle
    * + a running last() — no range join; the oracle is DuckDB's native
    * ASOF LEFT JOIN on the same nanosecond epochs. */
  private val joinAsof = Q("join_asof",
    (s, d) => Tables.noScanFloor(s) {
      val ev = Tables.events(s, d)
      // micros on both sides: DuckDB reads parquet ns-timestamps at µs
      // precision, so the oracle can only see µs epochs
      val tsUs = (col("ts").cast("decimal(38,0)") / 1000).cast("long")
      val clicks = ev.filter(col("event_type") =!= "signup")
        .select(col("event_id"), col("user_id"), tsUs.as("t_us"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("event_id"), col("user_id"), tsUs.as("t_us"))
        .groupBy(col("user_id"), col("t_us"))
        .agg(min(col("event_id")).as("signup_event_id"))
      Enrich.asofJoin(clicks, col("user_id"), col("t_us"),
          signups, col("user_id"), col("t_us"),
          struct(col("signup_event_id"), col("t_us").as("signup_ts")))
        .select(col("event_id"), col("user_id"), col("t_us").as("ts_us"),
          col("asof.signup_event_id").as("signup_event_id"),
          col("asof.signup_ts").as("signup_ts_us"))
        .orderBy(col("event_id"))
    },
    Some("""WITH l AS (
        SELECT event_id, user_id, epoch_us(ts) AS t FROM events
        WHERE event_type <> 'signup'
      ), r AS (
        SELECT user_id, epoch_us(ts) AS rt, min(event_id) AS sid
        FROM events WHERE event_type = 'signup'
        GROUP BY user_id, epoch_us(ts)
      )
      SELECT l.event_id, l.user_id, l.t AS ts_us,
        r.sid AS signup_event_id, r.rt AS signup_ts_us
      FROM l ASOF LEFT JOIN r
        ON l.user_id = r.user_id AND l.t >= r.rt
      ORDER BY l.event_id"""))

  /** Apache access-log parsing end-to-end: combined-format lines are
    * synthesized deterministically from event fields, parsed back by
    * apache-accesslog-parser (scl/apache semantics), and the oracle
    * recomputes every extracted field directly from the construction —
    * a hash match proves the parse recovers them from the text alone. */
  private val parseApache = Q("parse_apache",
    (s, d) => {
      val ev = Tables.events(s, d)
      val raw = concat(
        lit("10."), col("user_id") % 256, lit("."), col("event_id") % 256,
        lit(".7 - u"), col("user_id"),
        lit(" [10/Oct/2000:13:55:36 -0700] \"GET /"),
        col("event_type"), lit("/"), col("event_id"), lit(" HTTP/1.1\" "),
        lit(200) + col("event_id") % 5, lit(" "), col("event_id") % 10000)
      graft.operators.VendorParsers.apacheAccesslog(
          ev.select(col("event_id"), raw.as("message")))
        .select(col("event_id"),
          element_at(col("values"), ".apache.clientip").as("clientip"),
          element_at(col("values"), ".apache.auth").as("auth"),
          element_at(col("values"), ".apache.verb").as("verb"),
          element_at(col("values"), ".apache.request").as("request"),
          element_at(col("values"), ".apache.httpversion").as("httpversion"),
          element_at(col("values"), ".apache.response").as("response"),
          element_at(col("values"), ".apache.bytes").as("bytes"),
          col("ts").cast("long").as("ts_epoch"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id,
      '10.' || (user_id % 256) || '.' || (event_id % 256) || '.7' AS clientip,
      'u' || user_id AS auth,
      'GET' AS verb,
      '/' || event_type || '/' || event_id AS request,
      '1.1' AS httpversion,
      CAST(200 + event_id % 5 AS VARCHAR) AS response,
      CAST(event_id % 10000 AS VARCHAR) AS bytes,
      971211336 AS ts_epoch
      FROM events ORDER BY event_id"""))

  /** Gopher-style repetition signals over word n-grams: top-bigram char
    * coverage, duplicated-trigram occurrence fraction, type-token
    * ratio. Spark computes them as narrow codegen'd HOFs; the oracle
    * recomputes each via unnest + group-by with the same tie-break
    * (count desc, gram string desc). */
  private val textRepetition = Q("text_repetition",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"),
        TextAnalysis.repetitionMetrics(col("text")).as("m"))
      .select(col("doc_id"),
        col("m.top_bigram_frac").as("top_bigram_frac"),
        col("m.dup_trigram_frac").as("dup_trigram_frac"),
        col("m.distinct_ratio").as("distinct_ratio"))
      .orderBy(col("doc_id")),
    Some("""WITH toks AS (
        SELECT doc_id, length(text) AS nc,
          list_filter(string_split(trim(text), ' '), t -> t <> '') AS w
        FROM documents
      ), big AS (
        SELECT doc_id, unnest(list_transform(range(1, len(w) - 1 + 1),
          i -> w[i] || ' ' || w[i + 1])) AS g
        FROM toks WHERE len(w) >= 2
      ), bc AS (
        SELECT doc_id, g, count(*) AS cnt FROM big GROUP BY doc_id, g
      ), topb AS (
        SELECT doc_id, cnt, g FROM (
          SELECT doc_id, cnt, g,
            row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g DESC) AS rn
          FROM bc) WHERE rn = 1
      ), tri AS (
        SELECT doc_id, unnest(list_transform(range(1, len(w) - 2 + 1),
          i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS g
        FROM toks WHERE len(w) >= 3
      ), tc AS (
        SELECT doc_id, g, count(*) AS cnt FROM tri GROUP BY doc_id, g
      ), dup AS (
        SELECT doc_id,
          CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS DOUBLE)
            / sum(cnt) AS dup_frac
        FROM tc GROUP BY doc_id
      )
      SELECT t.doc_id,
        coalesce(CAST(topb.cnt AS DOUBLE) * length(topb.g)
          / greatest(t.nc, 1), 0.0) AS top_bigram_frac,
        coalesce(dup.dup_frac, 0.0) AS dup_trigram_frac,
        CASE WHEN len(t.w) = 0 THEN 0.0
          ELSE CAST(len(list_distinct(t.w)) AS DOUBLE) / len(t.w) END
          AS distinct_ratio
      FROM toks t
      LEFT JOIN topb ON t.doc_id = topb.doc_id
      LEFT JOIN dup ON t.doc_id = dup.doc_id
      ORDER BY t.doc_id"""))

  /** PII redaction over synthesized PII-bearing text (the events table
    * carries no real PII, so the query constructs emails / IPs / card
    * numbers deterministically from event fields — the redaction
    * regexes run against REAL pattern instances, and the oracle
    * rebuilds the same text and replays the same RE2-subset regexes). */
  private val textPiiRedact = Q("text_pii_redact",
    (s, d) => {
      val ev = Tables.events(s, d)
      val raw = concat(
        col("event_type"), lit(" by "),
        when(col("event_id") % 3 === 0,
          concat(lit("user"), col("user_id"), lit("@example.com")))
          .otherwise(lit("anon")),
        lit(" from 10."), col("user_id") % 256, lit("."),
        col("event_id") % 256, lit(".9 ref "),
        (lit(4000000000000000L) + col("event_id")).cast("string"))
      ev.select(col("event_id"), TextAnalysis.piiRedact(raw).as("p"))
        .select(col("event_id"),
          col("p.redacted").as("redacted"),
          col("p.n_emails").as("n_emails"),
          col("p.n_ips").as("n_ips"),
          col("p.n_digit_runs").as("n_digit_runs"))
        .orderBy(col("event_id"))
    },
    Some("""WITH raw AS (
        SELECT event_id,
          event_type || ' by ' ||
          CASE WHEN event_id % 3 = 0
            THEN 'user' || user_id || '@example.com' ELSE 'anon' END ||
          ' from 10.' || (user_id % 256) || '.' || (event_id % 256) ||
          '.9 ref ' || (4000000000000000 + event_id) AS t
        FROM events
      ), st AS (
        SELECT event_id, t,
          regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
            '<EMAIL>', 'g') AS t1
        FROM raw
      ), st2 AS (
        SELECT event_id, t, t1,
          regexp_replace(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
            '<IP>', 'g') AS t2
        FROM st
      )
      SELECT event_id,
        regexp_replace(t2, '\d{9,}', '<NUM>', 'g') AS redacted,
        CAST(len(regexp_extract_all(t,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        CAST(len(regexp_extract_all(t1,
          '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ips,
        CAST(len(regexp_extract_all(t2, '\d{9,}')) AS INT) AS n_digit_runs
      FROM st2 ORDER BY event_id"""))

  /** Per-document salient terms: tf × N / df with a rational idf (no
    * log — exact on every engine), deterministic (score desc, term asc)
    * top-3. Exercises the distributed explode → partial-agg → term-join
    * → windowed-top-k shape a 100 TB keyword-extraction pass uses. */
  private val textSalientTerms = Q("text_salient_terms",
    (s, d) => TextAnalysis.salientTerms(
        Tables.documents(s, d), col("doc_id"), col("text"), topK = 3)
      .orderBy(col("doc_id"), col("rank")),
    Some("""WITH tok AS (
        SELECT doc_id,
          unnest(list_filter(string_split(trim(text), ' '), t -> t <> '')) AS term
        FROM documents
      ), tf AS (
        SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
      ), dfq AS (
        SELECT term, count(*) AS df FROM tf GROUP BY term
      ), n AS (SELECT count(*) AS n_docs FROM documents),
      s AS (
        SELECT doc_id, term, tf, df,
          CAST(tf AS DOUBLE) * n_docs / df AS score,
          row_number() OVER (PARTITION BY doc_id
            ORDER BY CAST(tf AS DOUBLE) * n_docs / df DESC, term ASC) AS rank
        FROM tf JOIN dfq USING (term) CROSS JOIN n
      )
      SELECT doc_id, term, tf, df, score, rank
      FROM s WHERE rank <= 3 ORDER BY doc_id, rank"""))

  /** Training-shard packing: id-ordered documents fill ~2000-token
    * shards via a distributed two-level prefix sum (bucketed partial
    * sums + broadcast offsets — no global single-partition window).
    * The oracle recomputes the exclusive running total with a plain
    * window, proving the distributed decomposition exact. */
  private val shardPack = Q("shard_pack",
    (s, d) => TextAnalysis.packShards(Tables.documents(s, d),
        col("doc_id"), col("text"), budgetTokens = 2000L, bucketWidth = 1024L)
      .orderBy(col("doc_id")),
    Some("""WITH t AS (
        SELECT doc_id,
          CAST(len(list_filter(string_split(trim(text), ' '), x -> x <> ''))
            AS BIGINT) AS n_tokens
        FROM documents
      )
      SELECT doc_id, n_tokens,
        CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tokens,
        CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2000 AS BIGINT) AS shard
      FROM t ORDER BY doc_id"""))

  /** Cross-document duplicated k-token spans (window-level exact-dup
    * signal). Spark probes xxhash64'd window postings against the
    * min(doc)≠max(doc) cross-doc gram set; the oracle replays the same
    * logic on the gram STRINGS — identical counts barring 2^-64
    * collisions. */
  private val dedupSpans = Q("dedup_spans",
    (s, d) => Dedup.duplicatedSpans(Tables.documents(s, d),
        col("doc_id"), col("text"), k = 8)
      .orderBy(col("doc_id")),
    Some("""WITH toks AS (
        SELECT doc_id,
          list_filter(string_split(trim(text), ' '), t -> t <> '') AS w
        FROM documents
      ), g AS (
        SELECT doc_id, unnest(list_transform(range(1, greatest(len(w) - 7, 0) + 1),
          i -> array_to_string(w[i:i+7], ' '))) AS gram
        FROM toks
      ), d AS (
        SELECT gram FROM g GROUP BY gram HAVING min(doc_id) <> max(doc_id)
      )
      SELECT doc_id, count(*) AS n_dup_spans
      FROM g JOIN d USING (gram)
      GROUP BY doc_id ORDER BY doc_id"""))

  // ---------------------------------------------------------------------
  // C4-style corpus-wide duplicate-line removal: documents are recut
  // into 5-word lines (deterministically, both sides), every repeated
  // line keeps only its least-(doc_id, line_no) occurrence, and docs
  // rebuild from the survivors in order
  // ---------------------------------------------------------------------
  private val textDedupLines = Q("text_dedup_lines",
    (s, d) => {
      val w = filter(split(col("text"), " "), x => x =!= "")
      val nLines = ((size(col("w")) + 4) / 5).cast("int")
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), w.as("w"))
        .filter(size(col("w")) > 0)
        .select(col("doc_id"), array_join(
          transform(sequence(lit(0), nLines - 1),
            i => array_join(slice(col("w"), i * 5 + 1, lit(5)), " ")),
          "\n").as("text"))
      Dedup.dedupLines(docs, col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH ws AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        FROM documents
      ), lines AS (
        SELECT doc_id,
          unnest(list_transform(range(0, cast(floor((len(w)+4)/5) AS int)),
            i -> array_to_string(w[i*5+1:i*5+5], ' '))) AS line,
          unnest(range(0, cast(floor((len(w)+4)/5) AS int))) AS line_no
        FROM ws WHERE len(w) > 0
      ), ranked AS (
        SELECT doc_id, line_no, line,
          row_number() OVER (PARTITION BY line ORDER BY doc_id, line_no) AS rn
        FROM lines
      )
      SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) AS text
      FROM ranked WHERE rn = 1
      GROUP BY doc_id ORDER BY doc_id"""))

  // ---------------------------------------------------------------------
  // corpus-frequency boilerplate removal: same deterministic 5-word
  // "lines" as text_dedup_lines; a line in MORE than 2 distinct docs
  // is dropped from every doc (CCNet-style paragraph filter)
  // ---------------------------------------------------------------------
  private val textBoilerplate = Q("text_boilerplate",
    (s, d) => {
      val w = filter(split(col("text"), " "), x => x =!= "")
      val nLines = ((size(col("w")) + 4) / 5).cast("int")
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), w.as("w"))
        .filter(size(col("w")) > 0)
        .select(col("doc_id"), array_join(
          transform(sequence(lit(0), nLines - 1),
            i => array_join(slice(col("w"), i * 5 + 1, lit(5)), " ")),
          "\n").as("text"))
      Dedup.removeBoilerplate(docs, col("doc_id"), col("text"), maxDocFreq = 2)
        .orderBy(col("doc_id"))
    },
    Some("""WITH ws AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        FROM documents
      ), lines AS (
        SELECT doc_id,
          unnest(list_transform(range(0, cast(floor((len(w)+4)/5) AS int)),
            i -> array_to_string(w[i*5+1:i*5+5], ' '))) AS line,
          unnest(range(0, cast(floor((len(w)+4)/5) AS int))) AS line_no
        FROM ws WHERE len(w) > 0
      ), freq AS (
        SELECT line, count(DISTINCT doc_id) AS df FROM lines GROUP BY line
      )
      SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) AS text
      FROM lines JOIN freq USING (line) WHERE freq.df <= 2
      GROUP BY doc_id ORDER BY doc_id"""))

  // ---------------------------------------------------------------------
  // unigram-frequency quality gate (LM-perplexity stand-in): per-token
  // corpus-frequency bit lengths, top-16 vocab broadcast, OOV floors
  // at 1 — integer-exact so DuckDB reproduces it bit-for-bit
  // ---------------------------------------------------------------------
  // ---------------------------------------------------------------------
  // URL-keyed dedup: messy synthesized URLs (uppercase scheme/host, www,
  // default port, trailing slash, tracking params, unsorted query,
  // fragment) normalize to a canonical key; one survivor per key.
  // The oracle computes the canonical form analytically.
  // ---------------------------------------------------------------------
  private val textDedupUrl = Q("text_dedup_url",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val url = concat(
        lit("HTTPS://WWW.Example"), (col("doc_id") % 7).cast("string"),
        lit(".COM:443/Docs/"), (col("doc_id") % 41).cast("string"),
        lit("/?utm_source=feed&b="), (col("doc_id") % 3).cast("string"),
        lit("&a="), (col("doc_id") % 5).cast("string"), lit("#sec"))
      graft.pipeline.Urls.dedupByUrl(
          docs.select(col("doc_id"), url.as("url")), col("doc_id"), col("url"))
        .select(col("doc_id"), col("norm_url"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH u AS (
        SELECT doc_id,
          'https://example' || (doc_id % 7) || '.com/Docs/' || (doc_id % 41)
            || '?a=' || (doc_id % 5) || '&b=' || (doc_id % 3) AS norm_url
        FROM documents)
      SELECT doc_id, norm_url FROM u
      QUALIFY doc_id = min(doc_id) OVER (PARTITION BY norm_url)
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------------
  // Domain blocklist: suffix-matched host filter (a blocked domain drops
  // every subdomain), broadcast blocklist — the corpus never shuffles
  // ---------------------------------------------------------------------
  private val textDomainFilter = Q("text_domain_filter",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val host = concat(
        lit("sub"), (col("doc_id") % 3).cast("string"),
        lit(".site"), (col("doc_id") % 10).cast("string"), lit(".com"))
      val blocklist = Seq("site3.com", "SITE7.com", "sub0.site4.com").toDF("domain")
      graft.pipeline.Urls.domainFilter(
          docs.select(col("doc_id"), host.as("host")),
          col("doc_id"), col("host"), blocklist)
        .select(col("doc_id"), col("host"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
        'sub' || (doc_id % 3) || '.site' || (doc_id % 10) || '.com' AS host
      FROM documents
      WHERE (doc_id % 10) NOT IN (3, 7)
        AND NOT ((doc_id % 3) = 0 AND (doc_id % 10) = 4)
      ORDER BY doc_id"""))

  private val textUnigramQuality = Q("text_unigram_quality",
    (s, d) => TextAnalysis.unigramQuality(Tables.documents(s, d),
        col("doc_id"), col("text"), vocabSize = 16)
      .orderBy(col("doc_id")),
    Some("""WITH toks AS (
        SELECT doc_id,
          unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
            x -> x <> '')) AS term
        FROM documents
      ), counts AS (
        SELECT term, count(*) AS cnt FROM toks GROUP BY term
      ), vocab AS (
        SELECT term, cnt FROM counts ORDER BY cnt DESC, term ASC LIMIT 16
      ), scored AS (
        SELECT t.doc_id,
          CASE WHEN v.cnt IS NULL THEN 1 ELSE length(bin(v.cnt)) END AS bits,
          CASE WHEN v.cnt IS NULL THEN 1 ELSE 0 END AS oov
        FROM toks t LEFT JOIN vocab v USING (term)
      )
      SELECT doc_id, count(*) AS n_tokens,
        cast(sum(oov) AS bigint) AS oov,
        cast(sum(bits) AS double) / count(*) AS freq_bits_avg
      FROM scored GROUP BY doc_id ORDER BY doc_id"""))

  /** Bigram LM surprisal (r8) — the LM quality signal integerized for
    * exact external verification: the oracle rebuilds both top-K
    * tables (count desc + lexical tie-break) and replays the
    * bits-arithmetic scoring in DuckDB. Sizes pinned small so the
    * OOV/backoff and the cross-table clamp paths are all exercised on
    * the test corpus. */
  private val textBigramSurprisal = Q("text_bigram_surprisal",
    (s, d) => TextAnalysis.bigramSurprisal(Tables.documents(s, d),
        col("doc_id"), col("text"), vocabSize = 16, bigramTableSize = 32)
      .orderBy(col("doc_id")),
    Some("""WITH toks AS (
        SELECT doc_id,
          list_filter(string_split_regex(trim(lower(text)), '\s+'),
            x -> x <> '') AS ws
        FROM documents
      ), bigrams AS (
        SELECT doc_id, ws[i] AS a, ws[i + 1] AS b
        FROM toks, unnest(range(1, len(ws))) AS t(i)
        WHERE len(ws) >= 2
      ), ucounts AS (
        SELECT term, count(*) AS ucnt
        FROM (SELECT unnest(ws) AS term FROM toks) GROUP BY term
      ), vocab AS (
        SELECT term, ucnt FROM ucounts ORDER BY ucnt DESC, term ASC LIMIT 16
      ), bcounts AS (
        SELECT a, b, count(*) AS bcnt FROM bigrams GROUP BY a, b
      ), btab AS (
        SELECT a, b, bcnt FROM bcounts
        ORDER BY bcnt DESC, a ASC, b ASC LIMIT 32
      ), scored AS (
        SELECT g.doc_id,
          CASE WHEN v.ucnt IS NULL THEN 1
            ELSE length(bin(v.ucnt)) END AS ubits,
          bt.bcnt AS bcnt
        FROM bigrams g
        LEFT JOIN btab bt ON g.a = bt.a AND g.b = bt.b
        LEFT JOIN vocab v ON g.a = v.term
      )
      SELECT doc_id, count(*) AS n_bigrams,
        cast(sum(CASE WHEN bcnt IS NULL THEN 1 ELSE 0 END) AS bigint)
          AS oov_bigrams,
        cast(sum(CASE WHEN bcnt IS NULL THEN ubits + 1
          ELSE greatest(0, ubits - length(bin(bcnt))) END) AS double)
          / count(*) AS surprisal_bits_avg
      FROM scored GROUP BY doc_id ORDER BY doc_id"""))

  /** CCNet head/middle/tail buckets (r9): sampled surprisal cutpoints
    * (t1 = sorted-sample[floor(S/3)], t2 = [floor(2S/3)]) + one narrow
    * comparison pass. Sample pinned to 99 so the oracle replays the
    * md5 sample, the tercile picks and every bucket decision. */
  private val textCcnetBuckets = Q("text_ccnet_buckets",
    (s, d) => TextAnalysis.surprisalBuckets(Tables.documents(s, d),
        col("doc_id"), col("text"), vocabSize = 16, bigramTableSize = 32,
        sampleN = 99)
      .orderBy(col("doc_id")),
    Some("""WITH toks AS (
        SELECT doc_id,
          list_filter(string_split_regex(trim(lower(text)), '\s+'),
            x -> x <> '') AS ws
        FROM documents
      ), bigrams AS (
        SELECT doc_id, ws[i] AS a, ws[i + 1] AS b
        FROM toks, unnest(range(1, len(ws))) AS t(i)
        WHERE len(ws) >= 2
      ), ucounts AS (
        SELECT term, count(*) AS ucnt
        FROM (SELECT unnest(ws) AS term FROM toks) GROUP BY term
      ), vocab AS (
        SELECT term, ucnt FROM ucounts ORDER BY ucnt DESC, term ASC LIMIT 16
      ), bcounts AS (
        SELECT a, b, count(*) AS bcnt FROM bigrams GROUP BY a, b
      ), btab AS (
        SELECT a, b, bcnt FROM bcounts
        ORDER BY bcnt DESC, a ASC, b ASC LIMIT 32
      ), scored AS (
        SELECT g.doc_id,
          CASE WHEN v.ucnt IS NULL THEN 1
            ELSE length(bin(v.ucnt)) END AS ubits,
          bt.bcnt AS bcnt
        FROM bigrams g
        LEFT JOIN btab bt ON g.a = bt.a AND g.b = bt.b
        LEFT JOIN vocab v ON g.a = v.term
      ), sc AS (
        SELECT doc_id, count(*) AS n_bigrams,
          cast(sum(CASE WHEN bcnt IS NULL THEN 1 ELSE 0 END) AS bigint)
            AS oov_bigrams,
          cast(sum(CASE WHEN bcnt IS NULL THEN ubits + 1
            ELSE greatest(0, ubits - length(bin(bcnt))) END) AS double)
            / count(*) AS surprisal_bits_avg
        FROM scored GROUP BY doc_id
      ), smp AS (
        SELECT surprisal_bits_avg AS sv, doc_id FROM sc
        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 99
      ), ord AS (
        SELECT sv, row_number() OVER (ORDER BY sv, doc_id) AS rn,
          count(*) OVER () AS n
        FROM smp
      ), thr AS (
        SELECT
          (SELECT sv FROM ord WHERE rn = (SELECT n // 3 + 1 FROM ord LIMIT 1)) AS t1,
          (SELECT sv FROM ord WHERE rn = (SELECT (2 * n) // 3 + 1 FROM ord LIMIT 1)) AS t2)
      SELECT sc.doc_id, sc.n_bigrams, sc.oov_bigrams, sc.surprisal_bits_avg,
        CASE WHEN sc.surprisal_bits_avg <= thr.t1 THEN 'head'
             WHEN sc.surprisal_bits_avg <= thr.t2 THEN 'middle'
             ELSE 'tail' END AS bucket
      FROM sc, thr ORDER BY sc.doc_id"""))

  /** Context-window chunking (r8): deterministic overlapping windows
    * over whitespace tokens — the oracle replays tokenization, the
    * chunk-index range, and the list slices. Pinned small
    * (32-token chunks, 8 overlap) so every doc produces several
    * chunks incl. short tails. */
  private val textChunking = Q("text_chunking",
    (s, d) => TextAnalysis.chunkDocuments(Tables.documents(s, d),
        col("doc_id"), col("text"), chunkTokens = 32, overlap = 8)
      .orderBy(col("doc_id"), col("chunk_idx")),
    Some("""WITH toks AS (
        SELECT doc_id,
          list_filter(string_split_regex(trim(text), '\s+'),
            x -> x <> '') AS ws
        FROM documents
        WHERE len(list_filter(string_split_regex(trim(text), '\s+'),
          x -> x <> '')) > 0
      )
      SELECT doc_id, CAST(k AS INT) AS chunk_idx,
        CAST(len(ws[k * 24 + 1 : least(k * 24 + 32, len(ws))]) AS BIGINT)
          AS n_tokens,
        array_to_string(ws[k * 24 + 1 : least(k * 24 + 32, len(ws))], ' ')
          AS chunk_text
      FROM toks, unnest(range(0, greatest(0, (len(ws) - 8 - 1) // 24) + 1)) AS t(k)
      ORDER BY doc_id, chunk_idx"""))

  /** BPE-token-aware chunking (r9): same window contract as
    * text_chunking but cut on MODEL tokens (the GPT-2-style
    * pre-tokenizer regex of text_tokens_bpe); each piece carries its
    * leading space so chunk_text is the empty-separator concatenation.
    * The oracle replays regexp_extract_all + the same slice math. */
  private val textChunkingBpe = Q("text_chunking_bpe",
    (s, d) => TextAnalysis.chunkDocuments(Tables.documents(s, d),
        col("doc_id"), col("text"), chunkTokens = 32, overlap = 8,
        tokenizer = TextAnalysis.bpeishTokens, joinSep = "")
      .orderBy(col("doc_id"), col("chunk_idx")),
    Some("""WITH toks AS (
        SELECT doc_id, regexp_extract_all(text,
          '''(?:[sdmt]|ll|ve|re)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+')
          AS ws
        FROM documents
        WHERE len(regexp_extract_all(text,
          '''(?:[sdmt]|ll|ve|re)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+')) > 0
      )
      SELECT doc_id, CAST(k AS INT) AS chunk_idx,
        CAST(len(ws[k * 24 + 1 : least(k * 24 + 32, len(ws))]) AS BIGINT)
          AS n_tokens,
        array_to_string(ws[k * 24 + 1 : least(k * 24 + 32, len(ws))], '')
          AS chunk_text
      FROM toks, unnest(range(0, greatest(0, (len(ws) - 8 - 1) // 24) + 1)) AS t(k)
      ORDER BY doc_id, chunk_idx"""))

  /** BPE-token-aware packing (r9): text_pack_sequences' two-level
    * prefix sum over MODEL-token counts instead of whitespace words. */
  private val textPackBpe = Q("text_pack_bpe",
    (s, d) => TextAnalysis.packSequences(Tables.documents(s, d),
        col("doc_id"), col("text"), seqLen = 64, groupSpan = 32,
        tokenCountOf = TextAnalysis.bpeishTokenCount(_).cast("long"))
      .orderBy(col("doc_id"), col("seq_id")),
    Some("""WITH toks AS (
        SELECT doc_id, CAST(len(regexp_extract_all(text,
          '''(?:[sdmt]|ll|ve|re)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+'))
          AS BIGINT) AS n
        FROM documents
        WHERE len(regexp_extract_all(text,
          '''(?:[sdmt]|ll|ve|re)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+')) > 0
      ), st AS (
        SELECT doc_id, n,
          CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS strt
        FROM toks
      )
      SELECT doc_id, s AS seq_id,
        greatest(s * 64, strt) - s * 64 AS seq_off,
        greatest(s * 64, strt) - strt AS tok_from,
        least((s + 1) * 64, strt + n) - greatest(s * 64, strt) AS n_tokens
      FROM st, unnest(range(strt // 64, (strt + n - 1) // 64 + 1)) AS t(s)
      ORDER BY doc_id, seq_id"""))

  /** Hashed linear classifier scoring (r8): fastText-shaped quality
    * model application — unigram+bigram hashing-trick features, a
    * closed-form weight table ((bucket % 7) − 3 stands in for trained
    * weights — the oracle replays hash, bucket, weight and sum
    * exactly, all integers). */
  private val textClassifierScore = Q("text_classifier_score",
    (s, d) => TextAnalysis.hashedLinearScore(Tables.documents(s, d),
        col("doc_id"), col("text"), nBuckets = 4096,
        weightOf = b => b % 7 - 3)
      .orderBy(col("doc_id")),
    Some("""WITH toks AS (
        SELECT doc_id,
          list_filter(string_split_regex(trim(text), '\s+'),
            x -> x <> '') AS ws
        FROM documents
      ), feats AS (
        SELECT doc_id, ws || list_transform(range(1, greatest(len(ws), 1)),
          i -> ws[i] || ' ' || ws[i + 1]) AS fs
        FROM toks)
      SELECT doc_id, CAST(len(fs) AS BIGINT) AS n_feats,
        CAST(COALESCE(list_sum(list_transform(fs,
          f -> (CAST(('0x' || substring(md5(f), 1, 6)) AS BIGINT) % 4096)
            % 7 - 3)), 0) AS BIGINT) AS score
      FROM feats ORDER BY doc_id"""))

  /** Multi-label classifier head (r9): argmax over 3 label scores —
    * same hashing-trick features as text_classifier_score, one
    * closed-form integer weight table per label ((b + 17·l) % 7 − 3
    * stands in for trained weights), ties to the smallest label index.
    * The oracle replays hash, buckets, all three folds and the argmax
    * decision exactly. */
  private val textClassifierLabel = Q("text_classifier_label",
    (s, d) => TextAnalysis.hashedLinearLabel(Tables.documents(s, d),
        col("doc_id"), col("text"), nBuckets = 4096,
        weightsOf = (0 until 3).map(l => (b: Column) => (b + 17 * l) % 7 - 3))
      .orderBy(col("doc_id")),
    Some("""WITH toks AS (
        SELECT doc_id,
          list_filter(string_split_regex(trim(text), '\s+'),
            x -> x <> '') AS ws
        FROM documents
      ), feats AS (
        SELECT doc_id, ws || list_transform(range(1, greatest(len(ws), 1)),
          i -> ws[i] || ' ' || ws[i + 1]) AS fs
        FROM toks
      ), bks AS (
        SELECT doc_id, list_transform(fs,
          f -> CAST(('0x' || substring(md5(f), 1, 6)) AS BIGINT) % 4096) AS bs
        FROM feats
      ), scored AS (
        SELECT doc_id, CAST(len(bs) AS BIGINT) AS n_feats,
          CAST(COALESCE(list_sum(list_transform(bs, b -> (b + 0) % 7 - 3)), 0) AS BIGINT) AS score_0,
          CAST(COALESCE(list_sum(list_transform(bs, b -> (b + 17) % 7 - 3)), 0) AS BIGINT) AS score_1,
          CAST(COALESCE(list_sum(list_transform(bs, b -> (b + 34) % 7 - 3)), 0) AS BIGINT) AS score_2
        FROM bks)
      SELECT doc_id, n_feats, score_0, score_1, score_2,
        CAST(CASE WHEN score_0 >= score_1 AND score_0 >= score_2 THEN 0
                  WHEN score_1 >= score_2 THEN 1 ELSE 2 END AS INT) AS label
      FROM scored ORDER BY doc_id"""))

  /** Target-mixture sampling (r8): derive per-domain acceptance rates
    * from target ppm weights + actual counts (integer-exact), sample
    * by md5 threshold — the oracle replays counts, thresholds and
    * every acceptance decision. */
  private val sampleMixture = Q("sample_mixture",
    (s, d) => TextAnalysis.mixtureSample(Tables.documents(s, d),
        col("doc_id").cast("string"), col("lang"),
        Map("en" -> 400000L, "zh" -> 300000L, "fr" -> 200000L,
          "de" -> 100000L),
        budget = 100L, seed = "mx1")
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id")),
    Some("""WITH c AS (
        SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang
      ), t AS (
        SELECT lang, cnt,
          CASE lang WHEN 'en' THEN 400000 WHEN 'zh' THEN 300000
                    WHEN 'fr' THEN 200000 WHEN 'de' THEN 100000
                    ELSE 0 END AS ppm
        FROM c
      ), thr AS (
        SELECT lang,
          (least(1000000, (ppm * 100) // cnt) * 16777216) // 1000000
            AS thr
        FROM t)
      SELECT d.doc_id, d.lang
      FROM documents d JOIN thr ON d.lang = thr.lang
      WHERE CAST(('0x' || substring(md5('mx1' || d.doc_id), 1, 6))
        AS BIGINT) < thr.thr
      ORDER BY d.doc_id"""))

  /** Epoch-duplicating mixture (r9): scarce domains upsample by
    * repetition — de gets half the 2000-doc budget (≫ its count, so
    * epochs > 1), en a quarter; the oracle replays allocation, full
    * epochs, the fractional-epoch md5 decision, and the epoch range. */
  private val sampleMixtureEpochs = Q("sample_mixture_epochs",
    (s, d) => TextAnalysis.mixtureSampleEpochs(Tables.documents(s, d),
        col("doc_id").cast("string"), col("lang"),
        Map("en" -> 250000L, "de" -> 500000L), budget = 2000L,
        seed = "me1")
      .select(col("doc_id"), col("lang"), col("epoch"))
      .orderBy(col("doc_id"), col("epoch")),
    Some("""WITH c AS (
        SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang
      ), t AS (
        SELECT lang, cnt,
          CASE lang WHEN 'en' THEN 250000 WHEN 'de' THEN 500000
                    ELSE 0 END AS ppm
        FROM c
      ), a AS (
        SELECT lang, cnt, (ppm * 2000) // 1000000 AS alloc FROM t
      ), p AS (
        SELECT lang, alloc // cnt AS f,
          (((alloc - (alloc // cnt) * cnt)) * 1000000) // cnt AS remppm
        FROM a
      ), thr AS (
        SELECT lang, f, (remppm * 16777216) // 1000000 AS thr FROM p)
      SELECT d.doc_id, d.lang, CAST(u.e AS BIGINT) AS epoch
      FROM documents d JOIN thr ON d.lang = thr.lang,
        unnest(range(0, thr.f +
          CASE WHEN CAST(('0x' || substring(md5('me1' || d.doc_id), 1, 6))
            AS BIGINT) < thr.thr THEN 1 ELSE 0 END)) AS u(e)
      ORDER BY d.doc_id, epoch"""))

  /** Sequence packing (r8): GPT-style concat-and-cut into fixed
    * 64-token training sequences — the oracle replays the global token
    * prefix sum and the per-(doc,sequence) slice arithmetic. Pinned
    * small (seqLen 64) so docs span cuts and sequences mix docs. */
  private val textPackSequences = Q("text_pack_sequences",
    (s, d) => TextAnalysis.packSequences(Tables.documents(s, d),
        col("doc_id"), col("text"), seqLen = 64, groupSpan = 32)
      .orderBy(col("doc_id"), col("seq_id")),
    Some("""WITH toks AS (
        SELECT doc_id,
          CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
            x -> x <> '')) AS BIGINT) AS n
        FROM documents
        WHERE len(list_filter(string_split_regex(trim(text), '\s+'),
          x -> x <> '')) > 0
      ), st AS (
        SELECT doc_id, n,
          CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS strt
        FROM toks
      )
      SELECT doc_id, s AS seq_id,
        greatest(s * 64, strt) - s * 64 AS seq_off,
        greatest(s * 64, strt) - strt AS tok_from,
        least((s + 1) * 64, strt + n) - greatest(s * 64, strt) AS n_tokens
      FROM st, unnest(range(strt // 64, (strt + n - 1) // 64 + 1)) AS t(s)
      ORDER BY doc_id, seq_id"""))

  private val textFingerprint = Q("text_fingerprint",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
      md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
      FROM documents ORDER BY doc_id"""))

  /** The winnowing fingerprint is small-word modular arithmetic end to
    * end, so the oracle recomputes k-gram hashes, mix, and min-keep. */
  private val textFingerprintRobust = Q("text_fingerprint_robust",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"),
        TextAnalysis.robustFingerprint(col("text")).as("rfp"))
      .orderBy(col("doc_id")),
    Some("""WITH norm AS (
        SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
        FROM documents
      ), pos AS (
        SELECT doc_id, t, unnest(range(1, greatest(length(t) - 8 + 1, 1) + 1)) AS i
        FROM norm
      ), h AS (
        SELECT doc_id,
          CASE WHEN length(t) = 0 THEN 0 ELSE
            list_reduce(list_transform(range(0, least(8, length(t))),
              j -> CAST(unicode(substring(t, i + j, 1)) AS BIGINT)),
              (a, b) -> (a * 1000003 + b) % 2147483647) END AS ph
        FROM pos
      ), fp AS (
        SELECT doc_id,
          array_to_string(list_sort(list((ph * 2654435761) % 4294967296))[1:4], '-') AS rfp
        FROM h GROUP BY doc_id)
      SELECT doc_id, rfp FROM fp ORDER BY doc_id"""))

  // ---------------------------------------------------------------------
  // Multimodal plumbing (stubbed decode, real batch shape)
  // ---------------------------------------------------------------------
  private val multimodalFeatures = Q("multimodal_features",
    (s, d) => {
      import s.implicits._
      Multimodal.extractFeatures(Multimodal.mediaFromDocuments(s, d))
        .select(col("media_id"), col("n_bytes"), col("first_byte"))
        .orderBy(col("media_id"))
    },
    // oracle recomputes byte stats from the text the binary was built from
    Some("""SELECT doc_id AS media_id, strlen(text) AS n_bytes,
      ascii(substring(text, 1, 1)) AS first_byte
      FROM documents ORDER BY media_id"""))

  /** The REAL multimodal decode: spec-built PNG/JPEG/GIF/WAV container
    * bytes (MediaFixtures — correct magics, chunk CRCs, deflate) are
    * parsed back by MediaHeaders.decode, and the oracle recomputes the
    * ground-truth metadata independently from doc_id arithmetic. A
    * hash match proves the decoder recovers dimensions/sample rates
    * from the bytes alone. */
  private val multimodalDecode = Q("multimodal_decode",
    (s, d) => {
      import s.implicits._
      Multimodal.extractHeaders(Multimodal.mediaFixtures(s, d))
        .select(col("media_id"), col("format"), col("width"), col("height"),
          col("sample_rate"), col("channels"), col("bits_per_sample"))
        .orderBy(col("media_id"))
    },
    Some("""SELECT doc_id AS media_id,
      CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        WHEN 2 THEN 'gif' ELSE 'wav' END AS format,
      CAST(CASE WHEN doc_id % 4 = 3 THEN -1 ELSE 16 + doc_id % 97 END AS INT) AS width,
      CAST(CASE WHEN doc_id % 4 = 3 THEN -1 ELSE 16 + doc_id % 53 END AS INT) AS height,
      CAST(CASE WHEN doc_id % 4 = 3 THEN 8000 + (doc_id % 6) * 8000 ELSE -1 END AS INT) AS sample_rate,
      CAST(CASE WHEN doc_id % 4 = 3 THEN 1 + doc_id % 2 ELSE -1 END AS INT) AS channels,
      CAST(CASE WHEN doc_id % 4 = 3 THEN 16 ELSE -1 END AS INT) AS bits_per_sample
      FROM documents ORDER BY media_id"""))

  /** Pixel/sample-level decode — the r6 stub, retired: PNG pixels come
    * back through chunk-CRC validation, zlib inflate and all five
    * scanline de-filters; WAV PCM samples through the RIFF walk. The
    * fixture pattern makes every statistic closed-form in doc_id, so
    * DuckDB recomputes them without touching a codec. */
  private val multimodalPixels = Q("multimodal_pixels",
    (s, d) => {
      import s.implicits._
      Multimodal.extractSampleStats(Multimodal.pixelFixtures(s, d))
        .select(col("media_id"), col("fmt"), col("n"), col("vmin"),
          col("vmax"), col("vmean"))
        .orderBy(col("media_id"))
    },
    Some("""SELECT doc_id AS media_id,
      CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'wav' END AS fmt,
      CAST(CASE WHEN doc_id % 2 = 0
        THEN (16 + doc_id % 97) * (16 + doc_id % 53) ELSE 64 END AS BIGINT) AS n,
      CAST(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE doc_id % 100 END AS BIGINT) AS vmin,
      CAST(CASE WHEN doc_id % 2 = 0
        THEN (15 + doc_id % 97) + (15 + doc_id % 53)
        ELSE doc_id % 100 + 63 END AS BIGINT) AS vmax,
      CAST(CASE WHEN doc_id % 2 = 0
        THEN ((15 + doc_id % 97) + (15 + doc_id % 53)) / 2.0
        ELSE doc_id % 100 + 31.5 END AS DOUBLE) AS vmean
      FROM documents ORDER BY media_id"""))

  /** Audio features (r9): energy / peak / zero-crossings / mean over
    * REAL decoded PCM (the RIFF walk + 16-bit samples) — the fixture
    * samples are closed-form in doc_id, so DuckDB replays every
    * feature analytically; a hash match proves the decoder recovered
    * each sample exactly. */
  private val multimodalAudio = Q("multimodal_audio",
    (s, d) => {
      import s.implicits._
      Multimodal.extractAudioFeatures(Multimodal.audioFixtures(s, d))
        .select(col("media_id"), col("n_samples"), col("energy"),
          col("peak"), col("zcr"), col("vmean"))
        .orderBy(col("media_id"))
    },
    Some("""WITH sm AS (
        SELECT doc_id,
          list_transform(range(0, 64),
            i -> ((doc_id + i) % 7 - 3) * (1 + doc_id % 50)) AS v
        FROM documents
      )
      SELECT doc_id AS media_id, CAST(64 AS BIGINT) AS n_samples,
        CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS energy,
        CAST(list_max(list_transform(v, x -> abs(x))) AS BIGINT) AS peak,
        CAST(len(list_filter(range(1, 64),
          i -> v[i] * v[i + 1] < 0)) AS BIGINT) AS zcr,
        CAST(list_sum(v) AS DOUBLE) / 64 AS vmean
      FROM sm ORDER BY media_id"""))

  /** GIF pixel decode (r8 — GIF's LZW joins PNG/WAV as a real codec
    * layer): the fixture pattern is closed-form in doc_id exactly like
    * multimodal_pixels, so DuckDB recomputes the stats without an
    * image library; a hash match proves the LZW decoder (variable
    * width 9→12, table growth, full-table steady state) recovered
    * every index. */
  private val multimodalGif = Q("multimodal_gif",
    (s, d) => {
      import s.implicits._
      Multimodal.extractSampleStats(Multimodal.gifFixtures(s, d))
        .select(col("media_id"), col("fmt"), col("n"), col("vmin"),
          col("vmax"), col("vmean"))
        .orderBy(col("media_id"))
    },
    Some("""SELECT doc_id AS media_id, 'gif' AS fmt,
      CAST((16 + doc_id % 97) * (16 + doc_id % 53) AS BIGINT) AS n,
      CAST(0 AS BIGINT) AS vmin,
      CAST((15 + doc_id % 97) + (15 + doc_id % 53) AS BIGINT) AS vmax,
      CAST(((15 + doc_id % 97) + (15 + doc_id % 53)) / 2.0 AS DOUBLE) AS vmean
      FROM documents ORDER BY media_id"""))

  /** Video column metadata: ISO-BMFF box walk (mvhd timescale/duration,
    * tkhd 16.16 presentation size) — the container layer of a video
    * training-data pipeline; frame/sample decode stays codec-bound
    * (declared, like JPEG). */
  private val multimodalVideo = Q("multimodal_video",
    (s, d) => {
      import s.implicits._
      Multimodal.extractHeaders(Multimodal.videoFixtures(s, d))
        .select(col("media_id"), col("format"), col("width"), col("height"),
          col("sample_rate").as("timescale"), col("duration_ms"))
        .orderBy(col("media_id"))
    },
    Some("""SELECT doc_id AS media_id, 'mp4' AS format,
      CAST(160 + (doc_id % 32) * 16 AS INT) AS width,
      CAST(90 + (doc_id % 18) * 16 AS INT) AS height,
      CAST((1 + doc_id % 8) * 1000 AS INT) AS timescale,
      CAST(doc_id % 90000 AS BIGINT) AS duration_ms
      FROM documents ORDER BY media_id"""))

  /** Perceptual image dedup, part 1 — the dHash fingerprint itself
    * (9×8 block-mean difference hash over REAL decoded PNG pixels,
    * integer-exact cross-multiplied comparisons). The fixture pattern
    * is quadratic in (x,y) with doc_id-derived coefficients, so DuckDB
    * replays every block sum and bit decision in pure integer
    * arithmetic; a hash match proves decode → downsample → bit packing
    * end to end. Egress is 16 hex chars (bit 63 would flip a BIGINT's
    * sign and DuckDB cannot build 1<<63). */
  private val multimodalDhash = Q("multimodal_dhash",
    (s, d) => {
      import s.implicits._
      Multimodal.imageDHash(Multimodal.dhashFixtures(s, d))
        .select(col("media_id"), col("w"), col("h"), col("dhash"))
        .orderBy(col("media_id"))
    },
    Some("""WITH p2 AS (
        SELECT doc_id,
          CASE WHEN doc_id % 10 IN (1,6) THEN doc_id - 1 ELSE doc_id END AS eid
        FROM documents
      ), pm AS (
        SELECT doc_id, (eid * 2654435761) % 4294967296 AS m FROM p2
      ), p3 AS (
        SELECT doc_id, 1 + m % 251 AS a, 1 + (m // 251) % 241 AS b,
          CAST(12 + m % 21 AS INT) AS w, CAST(10 + (m // 21) % 17 AS INT) AS h
        FROM pm
      ), sums AS (
        SELECT doc_id, w, h,
          list_transform(range(0, 8), r ->
            list_transform(range(0, 9), c ->
              coalesce(list_sum(flatten(list_transform(
                range(r * h // 8, (r + 1) * h // 8), y ->
                list_transform(range(c * w // 9, (c + 1) * w // 9), x ->
                  (a*(x*x + 3*y) + b*(y*y + 5*x) + x*y*(x + y)) % 250)))), 0))) AS s
        FROM p3
      ), rowbytes AS (
        SELECT doc_id, w, h,
          list_transform(range(0, 8), r ->
            coalesce(list_sum(list_transform(range(0, 8), c ->
              CASE WHEN s[r+1][c+2] * ((c+1)*w//9 - c*w//9)
                      > s[r+1][c+1] * ((c+2)*w//9 - (c+1)*w//9)
                THEN 1 << c ELSE 0 END)), 0)) AS rb
        FROM sums
      )
      SELECT doc_id AS media_id, w, h,
        lower(concat(
          lpad(to_hex(rb[8]), 2, '0'), lpad(to_hex(rb[7]), 2, '0'),
          lpad(to_hex(rb[6]), 2, '0'), lpad(to_hex(rb[5]), 2, '0'),
          lpad(to_hex(rb[4]), 2, '0'), lpad(to_hex(rb[3]), 2, '0'),
          lpad(to_hex(rb[2]), 2, '0'), lpad(to_hex(rb[1]), 2, '0'))) AS dhash
      FROM rowbytes ORDER BY media_id"""))

  /** Perceptual image dedup, part 2 — near-duplicate pairs at Hamming
    * ≤ 3 via 4×16-bit pigeonhole banding (exact: 3 flipped bits leave
    * ≥1 band intact), the image twin of SimHash text dedup. The oracle
    * brute-forces the analytic hashes with bit_count(xor) — a match
    * proves the banded join finds EXACTLY the brute-force pair set.
    * Planted: doc_id ≡ 1 (mod 10) byte-identical reuse, ≡ 6 a +2
    * brightness offset (different bytes, identical dHash — the
    * invariance the fingerprint exists for). */
  private val dedupImageDhash = Q("dedup_image_dhash",
    (s, d) => {
      import s.implicits._
      Multimodal.imageDHashPairs(
          Multimodal.imageDHash(Multimodal.dhashFixtures(s, d)))
        .orderBy(col("id_a"), col("id_b"))
    },
    Some("""WITH p2 AS (
        SELECT doc_id,
          CASE WHEN doc_id % 10 IN (1,6) THEN doc_id - 1 ELSE doc_id END AS eid
        FROM documents
      ), pm AS (
        SELECT doc_id, (eid * 2654435761) % 4294967296 AS m FROM p2
      ), p3 AS (
        SELECT doc_id, 1 + m % 251 AS a, 1 + (m // 251) % 241 AS b,
          CAST(12 + m % 21 AS INT) AS w, CAST(10 + (m // 21) % 17 AS INT) AS h
        FROM pm
      ), sums AS (
        SELECT doc_id, w, h,
          list_transform(range(0, 8), r ->
            list_transform(range(0, 9), c ->
              coalesce(list_sum(flatten(list_transform(
                range(r * h // 8, (r + 1) * h // 8), y ->
                list_transform(range(c * w // 9, (c + 1) * w // 9), x ->
                  (a*(x*x + 3*y) + b*(y*y + 5*x) + x*y*(x + y)) % 250)))), 0))) AS s
        FROM p3
      ), rowbytes AS (
        SELECT doc_id,
          list_transform(range(0, 8), r ->
            coalesce(list_sum(list_transform(range(0, 8), c ->
              CASE WHEN s[r+1][c+2] * ((c+1)*w//9 - c*w//9)
                      > s[r+1][c+1] * ((c+2)*w//9 - (c+1)*w//9)
                THEN 1 << c ELSE 0 END)), 0)) AS rb
        FROM sums
      )
      SELECT x.doc_id AS id_a, y.doc_id AS id_b,
        CAST(list_sum(list_transform(range(0, 8),
          i -> bit_count(xor(x.rb[i+1], y.rb[i+1])))) AS INT) AS hamming
      FROM rowbytes x, rowbytes y
      WHERE x.doc_id < y.doc_id
        AND list_sum(list_transform(range(0, 8),
          i -> bit_count(xor(x.rb[i+1], y.rb[i+1])))) <= 3
      ORDER BY id_a, id_b"""))

  /** Audio perceptual fingerprint — gain-invariant energy dHash over
    * REAL decoded PCM (65-window tiling, integer cross-multiplied
    * energy comparisons). The fixture samples are quadratic in doc_id
    * so DuckDB replays every energy and bit; doc_id ≡ 6 (mod 10) is
    * the previous clip at double amplitude and must hash identically. */
  private val multimodalAudioHash = Q("multimodal_audio_hash",
    (s, d) => {
      import s.implicits._
      Multimodal.audioEnergyHash(Multimodal.audioHashFixtures(s, d))
        .select(col("media_id"), col("n_samples"), col("ahash"))
        .orderBy(col("media_id"))
    },
    Some("""WITH p2 AS (
        SELECT doc_id,
          CASE WHEN doc_id % 10 IN (1,6) THEN doc_id - 1 ELSE doc_id END AS eid,
          CASE WHEN doc_id % 10 = 6 THEN 2 ELSE 1 END AS gain
        FROM documents
      ), p3 AS (
        SELECT doc_id, gain, 1 + eid % 9 AS a, 2 + eid % 11 AS b,
          CAST(192 + eid % 64 AS INT) AS n
        FROM p2
      ), en AS (
        SELECT doc_id, n,
          list_transform(range(0, 65), w ->
            coalesce(list_sum(list_transform(
              range(w * n // 65, (w + 1) * n // 65), i ->
                (((a*i*i + b*i) % 2003 - 1001) * gain)
                  * (((a*i*i + b*i) % 2003 - 1001) * gain))), 0)) AS e
        FROM p3
      ), bytes8 AS (
        SELECT doc_id, n,
          list_transform(range(0, 8), r ->
            coalesce(list_sum(list_transform(range(0, 8), c ->
              CASE WHEN e[r*8+c+2] * ((r*8+c+1)*n//65 - (r*8+c)*n//65)
                      > e[r*8+c+1] * ((r*8+c+2)*n//65 - (r*8+c+1)*n//65)
                THEN 1 << c ELSE 0 END)), 0)) AS rb
        FROM en
      )
      SELECT doc_id AS media_id, n AS n_samples,
        lower(concat(
          lpad(to_hex(rb[8]), 2, '0'), lpad(to_hex(rb[7]), 2, '0'),
          lpad(to_hex(rb[6]), 2, '0'), lpad(to_hex(rb[5]), 2, '0'),
          lpad(to_hex(rb[4]), 2, '0'), lpad(to_hex(rb[3]), 2, '0'),
          lpad(to_hex(rb[2]), 2, '0'), lpad(to_hex(rb[1]), 2, '0'))) AS ahash
      FROM bytes8 ORDER BY media_id"""))

  /** Multimodal decontamination — benchmark-image leakage gate: drop
    * corpus images perceptually equal (dHash Hamming ≤ 3) to any eval
    * image. The benchmark copies are re-rendered at +1 brightness, so
    * a byte-equality gate finds NOTHING — only the perceptual hash
    * catches them. Broadcast-banded; the corpus never hash-exchanges.
    * Output = dropped (media_id, closest benchmark_id, hamming). */
  private val decontaminateImage = Q("decontaminate_image",
    (s, d) => {
      import s.implicits._
      Multimodal.decontaminateImages(
          Multimodal.dhashFixtures(s, d),
          Multimodal.benchmarkImageFixtures(s, d))
        .orderBy(col("media_id"))
    },
    Some("""WITH p2 AS (
        SELECT doc_id,
          CASE WHEN doc_id % 10 IN (1,6) THEN doc_id - 1 ELSE doc_id END AS eid
        FROM documents
      ), pm AS (
        SELECT doc_id, (eid * 2654435761) % 4294967296 AS m FROM p2
      ), p3 AS (
        SELECT doc_id, 1 + m % 251 AS a, 1 + (m // 251) % 241 AS b,
          CAST(12 + m % 21 AS INT) AS w, CAST(10 + (m // 21) % 17 AS INT) AS h
        FROM pm
      ), sums AS (
        SELECT doc_id, w, h,
          list_transform(range(0, 8), r ->
            list_transform(range(0, 9), c ->
              coalesce(list_sum(flatten(list_transform(
                range(r * h // 8, (r + 1) * h // 8), y ->
                list_transform(range(c * w // 9, (c + 1) * w // 9), x ->
                  (a*(x*x + 3*y) + b*(y*y + 5*x) + x*y*(x + y)) % 250)))), 0))) AS s
        FROM p3
      ), rowbytes AS (
        SELECT doc_id,
          list_transform(range(0, 8), r ->
            coalesce(list_sum(list_transform(range(0, 8), c ->
              CASE WHEN s[r+1][c+2] * ((c+1)*w//9 - c*w//9)
                      > s[r+1][c+1] * ((c+2)*w//9 - (c+1)*w//9)
                THEN 1 << c ELSE 0 END)), 0)) AS rb
        FROM sums
      ), matches AS (
        SELECT c.doc_id AS media_id, b.doc_id AS benchmark_id,
          CAST(list_sum(list_transform(range(0, 8),
            i -> bit_count(xor(c.rb[i+1], b.rb[i+1])))) AS INT) AS hamming
        FROM rowbytes c, rowbytes b
        WHERE b.doc_id % 50 = 0
      )
      SELECT media_id, benchmark_id, hamming FROM (
        SELECT media_id, benchmark_id, hamming,
          row_number() OVER (PARTITION BY media_id
            ORDER BY hamming, benchmark_id) AS rn
        FROM matches WHERE hamming <= 3) WHERE rn = 1
      ORDER BY media_id"""))

  /** Cluster-level image dedup — the end-to-end wiring the image family
    * was missing (r9 verdict #6): [[Multimodal.imageDHashPairs]] PAIRS
    * feed the text family's connected components + keep-best machinery
    * (the scaladoc lesson: exact-dup mega-clusters belong to
    * groupBy/CC, not pair enumeration). Keep-best = highest RESOLUTION
    * (w·h — the natural image quality score), ties → smallest id. The
    * oracle re-derives the pair set from the analytic hashes, the
    * clusters via the recursive transitive closure, and the same
    * keep rule. */
  private val dedupImageCc = Q("dedup_image_cc",
    (s, d) => {
      import s.implicits._
      // hashes feed TWO shapes (the banded pairs and the per-member
      // scores) — without a cut Spark re-evaluates the whole
      // decode+hash pipeline per shape (the corpus decode is the
      // dominant cost: +~30% at sf100p). localCheckpoint materializes
      // the slim (id, bits, w, h) table once; exchange-reuse cannot
      // help across differently-shaped consumers.
      val hashes = Multimodal.imageDHash(Multimodal.dhashFixtures(s, d))
        .toDF().localCheckpoint(false)
      // collapsed cluster edges (r11 verdict #1): identical dHashes
      // contribute linear member edges, not quadratic pairs
      val edges = Multimodal.imageDHashClusterEdges(
        hashes.as[Multimodal.ImageHash])
      Dedup.bestPerCluster(
          Dedup.dedupClusters(edges),
          hashes.select(col("media_id").as("id"),
            (col("w") * col("h")).cast("double").as("score")))
        .orderBy(col("id"))
    },
    Some("""WITH RECURSIVE p2 AS (
        SELECT doc_id,
          CASE WHEN doc_id % 10 IN (1,6) THEN doc_id - 1 ELSE doc_id END AS eid
        FROM documents
      ), pm AS (
        SELECT doc_id, (eid * 2654435761) % 4294967296 AS m FROM p2
      ), p3 AS (
        SELECT doc_id, 1 + m % 251 AS a, 1 + (m // 251) % 241 AS b,
          CAST(12 + m % 21 AS INT) AS w, CAST(10 + (m // 21) % 17 AS INT) AS h
        FROM pm
      ), sums AS (
        SELECT doc_id, w, h,
          list_transform(range(0, 8), r ->
            list_transform(range(0, 9), c ->
              coalesce(list_sum(flatten(list_transform(
                range(r * h // 8, (r + 1) * h // 8), y ->
                list_transform(range(c * w // 9, (c + 1) * w // 9), x ->
                  (a*(x*x + 3*y) + b*(y*y + 5*x) + x*y*(x + y)) % 250)))), 0))) AS s
        FROM p3
      ), rowbytes AS (
        SELECT doc_id, w, h,
          list_transform(range(0, 8), r ->
            coalesce(list_sum(list_transform(range(0, 8), c ->
              CASE WHEN s[r+1][c+2] * ((c+1)*w//9 - c*w//9)
                      > s[r+1][c+1] * ((c+2)*w//9 - (c+1)*w//9)
                THEN 1 << c ELSE 0 END)), 0)) AS rb
        FROM sums
      ), pairs AS (
        SELECT x.doc_id AS id_a, y.doc_id AS id_b
        FROM rowbytes x, rowbytes y
        WHERE x.doc_id < y.doc_id
          AND list_sum(list_transform(range(0, 8),
            i -> bit_count(xor(x.rb[i+1], y.rb[i+1])))) <= 3
      ), edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs
      ), r(id, l) AS (
        SELECT src, src FROM edges
        UNION
        SELECT r.id, e.dst FROM r JOIN edges e ON r.l = e.src
      ), comp AS (
        SELECT id, min(l) AS component FROM r GROUP BY id
      ), scored AS (
        SELECT comp.id, comp.component,
          CAST(p3.w * p3.h AS DOUBLE) AS score
        FROM comp JOIN p3 ON p3.doc_id = comp.id
      )
      SELECT id, component, score,
        (row_number() OVER (PARTITION BY component
          ORDER BY score DESC, id) = 1) AS keep
      FROM scored ORDER BY id"""))

  /** Shared CTE chain replaying the video fixtures analytically: per
    * (doc, frame) 8 dHash row-bytes (`frb`), then per clip the
    * majority-vote row-bytes `vb` and the temporal signature `tsig`
    * (frame-pair difference bits) — `vclip(doc_id, nf, vb, tsig)`. */
  private val videoRowbytesCte = """WITH p2 AS (
        SELECT doc_id,
          CASE WHEN doc_id % 10 IN (1,6) THEN doc_id - 1 ELSE doc_id END AS eid
        FROM documents
      ), pm AS (
        SELECT doc_id, (eid * 2654435761) % 4294967296 AS m FROM p2
      ), p3 AS (
        SELECT doc_id, 1 + m % 251 AS a, 1 + (m // 251) % 241 AS b,
          CAST(12 + m % 21 AS INT) AS w, CAST(10 + (m // 21) % 17 AS INT) AS h,
          CAST(5 + 2 * (m % 3) AS BIGINT) AS nf
        FROM pm
      ), fsums AS (
        SELECT doc_id, w, h, nf, f,
          list_transform(range(0, 8), r ->
            list_transform(range(0, 9), c ->
              coalesce(list_sum(flatten(list_transform(
                range(r * h // 8, (r + 1) * h // 8), y ->
                list_transform(range(c * w // 9, (c + 1) * w // 9), x ->
                  (a*(x*x + 3*y) + b*(y*y + 5*x) + x*y*(x + y)
                    + (f+1)*(x + 2*y + 7)) % 250)))), 0))) AS s
        FROM p3, (SELECT unnest(range(0, 9)) AS f) fr
        WHERE f < nf
      ), frb AS (
        SELECT doc_id, w, nf, f,
          list_transform(range(0, 8), r ->
            coalesce(list_sum(list_transform(range(0, 8), c ->
              CASE WHEN s[r+1][c+2] * ((c+1)*w//9 - c*w//9)
                      > s[r+1][c+1] * ((c+2)*w//9 - (c+1)*w//9)
                THEN 1 << c ELSE 0 END)), 0)) AS rb
        FROM fsums
      ), fagg AS (
        SELECT doc_id, nf, list(rb ORDER BY f) AS rbs
        FROM frb GROUP BY doc_id, nf
      ), vclip AS (
        SELECT doc_id, nf,
          list_transform(range(0, 8), r ->
            coalesce(list_sum(list_transform(range(0, 8), c ->
              CASE WHEN 2 * list_sum(list_transform(rbs,
                  rb -> (rb[r+1] >> c) & 1)) > nf
                THEN 1 << c ELSE 0 END)), 0)) AS vb,
          CAST(coalesce(list_sum(list_transform(range(0, CAST(nf AS INT) - 1),
            f -> CASE WHEN rbs[f+1] = rbs[f+2] THEN 0
              ELSE (CAST(1 AS BIGINT) << f) END)), 0) AS BIGINT) AS tsig
        FROM fagg
      )"""

  /** Video perceptual fingerprint — per-frame dHash over REAL decoded
    * GIF frames (the LZW path) reduced to a majority-vote clip hash +
    * a temporal signature (frame-pair difference bits). The fixture
    * frames are quadratic in (x, y) with a frame-linear term, all
    * closed-form in doc_id, so DuckDB replays every frame hash,
    * majority bit, and temporal bit in pure integer arithmetic. The
    * brightness-offset twins (doc_id ≡ 6) must hash identically —
    * re-encode invariance across the whole clip. */
  private val multimodalVideoHash = Q("multimodal_video_hash",
    (s, d) => {
      import s.implicits._
      Multimodal.videoDHash(Multimodal.videoHashFixtures(s, d))
        .select(col("media_id"), col("n_frames"), col("vhash"), col("tsig"))
        .orderBy(col("media_id"))
    },
    Some(s"""$videoRowbytesCte
      SELECT doc_id AS media_id, CAST(nf AS INT) AS n_frames,
        lower(concat(
          lpad(to_hex(vb[8]), 2, '0'), lpad(to_hex(vb[7]), 2, '0'),
          lpad(to_hex(vb[6]), 2, '0'), lpad(to_hex(vb[5]), 2, '0'),
          lpad(to_hex(vb[4]), 2, '0'), lpad(to_hex(vb[3]), 2, '0'),
          lpad(to_hex(vb[2]), 2, '0'), lpad(to_hex(vb[1]), 2, '0'))) AS vhash,
        tsig
      FROM vclip ORDER BY media_id"""))

  /** The oracle's replay of [[Multimodal.tsigAligned]]: clips `x`,`y`
    * (rows of `vclip` with nf + tsig) match time-wise when some
    * alignment within ±2 frames makes the signatures agree on the
    * overlapping min(nf_a−1−s, nf_b−1) low bits. Fixture nf ≤ 9, so
    * masks stay far from the 63-bit wrap. */
  private def tsigAlignedSql(x: String, y: String): String = {
    def one(a: String, b: String, s: Int) =
      s"""(least($a.nf - 1 - $s, $b.nf - 1) >= 1 AND
        (($a.tsig >> $s) &
          ((CAST(1 AS BIGINT) << least($a.nf - 1 - $s, $b.nf - 1)) - 1)) =
        ($b.tsig &
          ((CAST(1 AS BIGINT) << least($a.nf - 1 - $s, $b.nf - 1)) - 1)))"""
    (Seq(one(x, y, 0)) ++ (1 to 2).flatMap(s =>
      Seq(one(x, y, s), one(y, x, s)))).mkString("(", " OR ", ")")
  }

  /** Perceptual video dedup — near-duplicate clip pairs at majority-hash
    * Hamming ≤ 3 AND temporally ALIGNED signatures (±2-frame shift
    * tolerance — a clip trimmed by one frame previously escaped the
    * exact tsig equality), found by the exact 4×16 pigeonhole banding.
    * Planted: ≡ 1 (mod 10) byte-identical clip reuse, ≡ 6 a re-rendered
    * (+2 brightness per frame) copy — different bytes, identical
    * fingerprint. The oracle brute-forces the analytic clip hashes with
    * the same alignment predicate; a match proves the banded join finds
    * exactly the brute-force pair set. */
  private val dedupVideoDhash = Q("dedup_video_dhash",
    (s, d) => {
      import s.implicits._
      Multimodal.videoDHashPairs(
          Multimodal.videoDHash(Multimodal.videoHashFixtures(s, d)))
        .orderBy(col("id_a"), col("id_b"))
    },
    Some(s"""$videoRowbytesCte
      SELECT x.doc_id AS id_a, y.doc_id AS id_b,
        CAST(list_sum(list_transform(range(0, 8),
          i -> bit_count(xor(x.vb[i+1], y.vb[i+1])))) AS INT) AS hamming
      FROM vclip x, vclip y
      WHERE x.doc_id < y.doc_id AND ${tsigAlignedSql("x", "y")}
        AND list_sum(list_transform(range(0, 8),
          i -> bit_count(xor(x.vb[i+1], y.vb[i+1])))) <= 3
      ORDER BY id_a, id_b"""))

  /** Cluster-level video dedup — the video column of the modality
    * matrix completed (r10 verdict #2): [[Multimodal.videoDHashPairs]]
    * (banded majority-hash join + temporal alignment) feeds connected
    * components + keep-best. Keep-best = most FRAMES, then resolution
    * (score = nf·2³³ + w·h — exact in a double far past any real frame
    * count), ties → smallest id. The single-decode lesson from
    * dedup_image_cc applies from day one: the slim fingerprint table
    * localCheckpoints ONCE so the per-clip LZW decode never re-runs
    * per consumer shape. */
  private val dedupVideoCc = Q("dedup_video_cc",
    (s, d) => {
      import s.implicits._
      val hashes = Multimodal.videoDHash(Multimodal.videoHashFixtures(s, d))
        .toDF().localCheckpoint(false)
      val edges = Multimodal.videoDHashClusterEdges(
        hashes.as[Multimodal.VideoHash])
      Dedup.bestPerCluster(
          Dedup.dedupClusters(edges),
          hashes.select(col("media_id").as("id"),
            (col("n_frames").cast("double") * lit(8589934592.0) +
              (col("w") * col("h")).cast("double")).as("score")))
        .orderBy(col("id"))
    },
    Some(s"""${"WITH RECURSIVE" + videoRowbytesCte.stripPrefix("WITH")},
      vpairs AS (
        SELECT x.doc_id AS id_a, y.doc_id AS id_b
        FROM vclip x, vclip y
        WHERE x.doc_id < y.doc_id AND ${tsigAlignedSql("x", "y")}
          AND list_sum(list_transform(range(0, 8),
            i -> bit_count(xor(x.vb[i+1], y.vb[i+1])))) <= 3
      ), edges AS (
        SELECT id_a AS src, id_b AS dst FROM vpairs
        UNION SELECT id_b, id_a FROM vpairs
      ), r(id, l) AS (
        SELECT src, src FROM edges
        UNION
        SELECT r.id, e.dst FROM r JOIN edges e ON r.l = e.src
      ), comp AS (
        SELECT id, min(l) AS component FROM r GROUP BY id
      ), vscored AS (
        SELECT comp.id, comp.component,
          CAST(v.nf * 8589934592 + p3.w * p3.h AS DOUBLE) AS score
        FROM comp
        JOIN vclip v ON v.doc_id = comp.id
        JOIN p3 ON p3.doc_id = comp.id
      )
      SELECT id, component, score,
        (row_number() OVER (PARTITION BY component
          ORDER BY score DESC, id) = 1) AS keep
      FROM vscored ORDER BY id"""))

  /** Video-side benchmark decontamination — the modality matrix's
    * decontaminate column for video: drop corpus clips whose majority
    * hash is within Hamming 3 of an eval clip under temporal alignment.
    * The benchmark copies are re-rendered at +1 brightness per frame —
    * byte-equality finds nothing, the fingerprint catches every one.
    * Broadcast-banded; the corpus never hash-exchanges. */
  private val decontaminateVideo = Q("decontaminate_video",
    (s, d) => {
      import s.implicits._
      Multimodal.decontaminateVideos(
          Multimodal.videoHashFixtures(s, d),
          Multimodal.benchmarkVideoFixtures(s, d))
        .orderBy(col("media_id"))
    },
    Some(s"""$videoRowbytesCte,
      vmatches AS (
        SELECT c.doc_id AS media_id, b.doc_id AS benchmark_id,
          CAST(list_sum(list_transform(range(0, 8),
            i -> bit_count(xor(c.vb[i+1], b.vb[i+1])))) AS INT) AS hamming
        FROM vclip c, vclip b
        WHERE b.doc_id % 50 = 0
          AND ${tsigAlignedSql("c", "b")}
          AND list_sum(list_transform(range(0, 8),
            i -> bit_count(xor(c.vb[i+1], b.vb[i+1])))) <= 3
      )
      SELECT media_id, benchmark_id, hamming FROM (
        SELECT media_id, benchmark_id, hamming,
          row_number() OVER (PARTITION BY media_id
            ORDER BY hamming, benchmark_id) AS rn
        FROM vmatches) WHERE rn = 1
      ORDER BY media_id"""))

  /** Audio-side benchmark decontamination — the decontaminate column
    * for audio: the eval copies are re-mastered at 3× gain (different
    * bytes, identical gain-invariant energy hash). */
  private val decontaminateAudioQ = Q("decontaminate_audio",
    (s, d) => {
      import s.implicits._
      Multimodal.decontaminateAudio(
          Multimodal.audioHashFixtures(s, d),
          Multimodal.benchmarkAudioFixtures(s, d))
        .orderBy(col("media_id"))
    },
    // the energy-hash CTE replays gain-invariance analytically: the
    // corpus row's own gain (1 or 2) and the benchmark's 3x both cancel
    // in the cross-multiplied comparisons, so bench bits = the bits of
    // the doc_id % 50 = 0 corpus rows
    Some("""WITH p2 AS (
        SELECT doc_id,
          CASE WHEN doc_id % 10 IN (1,6) THEN doc_id - 1 ELSE doc_id END AS eid,
          CASE WHEN doc_id % 10 = 6 THEN 2 ELSE 1 END AS gain
        FROM documents
      ), p3 AS (
        SELECT doc_id, gain, 1 + eid % 9 AS a, 2 + eid % 11 AS b,
          CAST(192 + eid % 64 AS INT) AS n
        FROM p2
      ), en AS (
        SELECT doc_id, n,
          list_transform(range(0, 65), w ->
            coalesce(list_sum(list_transform(
              range(w * n // 65, (w + 1) * n // 65), i ->
                (((a*i*i + b*i) % 2003 - 1001) * gain)
                  * (((a*i*i + b*i) % 2003 - 1001) * gain))), 0)) AS e
        FROM p3
      ), bytes8 AS (
        SELECT doc_id, n,
          list_transform(range(0, 8), r ->
            coalesce(list_sum(list_transform(range(0, 8), c ->
              CASE WHEN e[r*8+c+2] * ((r*8+c+1)*n//65 - (r*8+c)*n//65)
                      > e[r*8+c+1] * ((r*8+c+2)*n//65 - (r*8+c+1)*n//65)
                THEN 1 << c ELSE 0 END)), 0)) AS rb
        FROM en
      ), amatches AS (
        SELECT c.doc_id AS media_id, b.doc_id AS benchmark_id,
          CAST(list_sum(list_transform(range(0, 8),
            i -> bit_count(xor(c.rb[i+1], b.rb[i+1])))) AS INT) AS hamming
        FROM bytes8 c, bytes8 b
        WHERE b.doc_id % 50 = 0
          AND list_sum(list_transform(range(0, 8),
            i -> bit_count(xor(c.rb[i+1], b.rb[i+1])))) <= 3
      )
      SELECT media_id, benchmark_id, hamming FROM (
        SELECT media_id, benchmark_id, hamming,
          row_number() OVER (PARTITION BY media_id
            ORDER BY hamming, benchmark_id) AS rn
        FROM amatches) WHERE rn = 1
      ORDER BY media_id"""))

  /** Cluster-level audio dedup — the audio column of the modality
    * matrix completed (r10 verdict #2): [[Multimodal.audioEnergyHashPairs]]
    * (the gain-invariant energy dHash through the same exact 4×16
    * banding) feeds connected components + keep-best. Keep-best =
    * LONGEST clip (n_samples), ties → smallest id. Planted: ≡ 1
    * (mod 10) byte-identical reuse, ≡ 6 the previous clip at double
    * amplitude — different bytes, identical energy hash. The oracle
    * re-derives pairs from the analytic energies, clusters via the
    * recursive transitive closure, and the same keep rule. */
  private val dedupAudioCc = Q("dedup_audio_cc",
    (s, d) => {
      import s.implicits._
      // single-decode: the fingerprints feed pairs AND scores
      val hashes = Multimodal.audioEnergyHash(
          Multimodal.audioHashFixtures(s, d))
        .toDF().localCheckpoint(false)
      // the r11 scale-killer fix: edges over DISTINCT hashes + linear
      // member edges — the fixture's identical-hash clusters grow ∝ N
      val edges = Multimodal.audioEnergyHashClusterEdges(
        hashes.as[Multimodal.AudioHash])
      Dedup.bestPerCluster(
          Dedup.dedupClusters(edges),
          hashes.select(col("media_id").as("id"),
            col("n_samples").cast("double").as("score")))
        .orderBy(col("id"))
    },
    Some("""WITH RECURSIVE p2 AS (
        SELECT doc_id,
          CASE WHEN doc_id % 10 IN (1,6) THEN doc_id - 1 ELSE doc_id END AS eid,
          CASE WHEN doc_id % 10 = 6 THEN 2 ELSE 1 END AS gain
        FROM documents
      ), p3 AS (
        SELECT doc_id, gain, 1 + eid % 9 AS a, 2 + eid % 11 AS b,
          CAST(192 + eid % 64 AS INT) AS n
        FROM p2
      ), en AS (
        SELECT doc_id, n,
          list_transform(range(0, 65), w ->
            coalesce(list_sum(list_transform(
              range(w * n // 65, (w + 1) * n // 65), i ->
                (((a*i*i + b*i) % 2003 - 1001) * gain)
                  * (((a*i*i + b*i) % 2003 - 1001) * gain))), 0)) AS e
        FROM p3
      ), bytes8 AS (
        SELECT doc_id, n,
          list_transform(range(0, 8), r ->
            coalesce(list_sum(list_transform(range(0, 8), c ->
              CASE WHEN e[r*8+c+2] * ((r*8+c+1)*n//65 - (r*8+c)*n//65)
                      > e[r*8+c+1] * ((r*8+c+2)*n//65 - (r*8+c+1)*n//65)
                THEN 1 << c ELSE 0 END)), 0)) AS rb
        FROM en
      ), apairs AS (
        SELECT x.doc_id AS id_a, y.doc_id AS id_b
        FROM bytes8 x, bytes8 y
        WHERE x.doc_id < y.doc_id
          AND list_sum(list_transform(range(0, 8),
            i -> bit_count(xor(x.rb[i+1], y.rb[i+1])))) <= 3
      ), edges AS (
        SELECT id_a AS src, id_b AS dst FROM apairs
        UNION SELECT id_b, id_a FROM apairs
      ), r(id, l) AS (
        SELECT src, src FROM edges
        UNION
        SELECT r.id, e.dst FROM r JOIN edges e ON r.l = e.src
      ), comp AS (
        SELECT id, min(l) AS component FROM r GROUP BY id
      ), ascored AS (
        SELECT comp.id, comp.component, CAST(b.n AS DOUBLE) AS score
        FROM comp JOIN bytes8 b ON b.doc_id = comp.id
      )
      SELECT id, component, score,
        (row_number() OVER (PARTITION BY component
          ORDER BY score DESC, id) = 1) AS keep
      FROM ascored ORDER BY id"""))

  private val multimodalStub = Q("multimodal_stub",
    (s, d) => {
      import s.implicits._
      Multimodal.extractFeatures(Multimodal.mediaFromDocuments(s, d))
        .select(col("media_id"), col("checksum"))
        .orderBy(col("media_id"))
    },
    // the stub checksum is mod-2^31-1 polynomial over the payload bytes;
    // the payload is the UTF-8 text, so the oracle refolds the characters
    Some("""SELECT doc_id AS media_id,
      CASE WHEN length(text) = 0 THEN 0 ELSE
        list_reduce(list_transform(range(1, length(text) + 1),
          i -> CAST(unicode(substring(text, i, 1)) AS BIGINT)),
          (a, b) -> (a * 31 + b) % 2147483647) END AS checksum
      FROM documents ORDER BY media_id"""))

  // ---------------------------------------------------------------------
  // app-parser(topic(syslog)) via the FUSED registry compile
  // (Scl.appParser — one scan, route-keyed effects, single values
  // merge), complementing app_parser's junction-compile coverage:
  // six registered applications detected on post-syslog-parse columns
  // ---------------------------------------------------------------------
  private val appParserTopicQ = Q("app_parser_topic",
    (s, d) => {
      val ev = Tables.events(s, d)
      val uid = col("user_id").cast("string")
      val eid = col("event_id").cast("string")
      val m = col("event_id") % 7
      val msg = when(m === 0, concat(lit("IN=eth0 OUT= SRC=10.0.0."), uid,
          lit(" DST=10.0.1.2 PROTO=TCP SPT=1042 DPT=22")))
        .when(m === 1, concat(lit("u"), uid,
          lit(" : TTY=pts/0 ; PWD=/home ; USER=root ; COMMAND=/bin/ls /tmp/f"), eid))
        .when(m === 2, concat(
          // post-parse shape: the legacy program parse ate "1,<date>"
          // plus one space (LEGACY_MSGHDR), the CSV remainder is MESSAGE
          lit("03:04:05,001122,SYSTEM,general,1,2024/01/12 03:04:05,vsys1,ev"),
          eid, lit(",object1,,,general,informational,desc,112233,0x0,vsys_name,device_name")))
        .when(m === 3, concat(lit("@cee:{\"event\":\"login\",\"user\":\"u"), uid, lit("\"}")))
        .when(m === 4, lit("@cim:{\"event\":\"search\"}"))
        .when(m === 5, lit("junos session closed"))
        .otherwise(concat(lit("hello "), eid))
      val in = ev.select(col("event_id"),
        msg.as("message"),
        when(m === 0, lit("kernel")).when(m === 1, lit("sudo"))
          .when(m === 2, lit("1,2024/01/12"))
          .otherwise(lit("app")).as("program"),
        when(m === 0, lit(0)).otherwise(lit(3)).as("facility"),
        when(m === 5, map(lit(".SDATA.junos@2636.1.1.1.2.129.reason"),
            lit("TCP FIN")))
          .otherwise(map().cast("map<string,string>")).as("values"))
      val out = graft.operators.Scl.appParser(in, "syslog")
      out.select(col("event_id"),
        col("__channel").as("app"),
        element_at(col("values"), ".app.name").as("app_nv"),
        coalesce(
          element_at(col("values"), ".iptables.PROTO"),
          element_at(col("values"), ".sudo.COMMAND"),
          element_at(col("values"), ".panos.eventid"),
          element_at(col("values"), ".cee.user"),
          element_at(col("values"), ".cim.event"),
          when(col("__channel") === "junos",
            element_at(col("values"), ".SDATA.junos@2636.1.1.1.2.129.reason")))
          .as("evidence"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id,
      CASE event_id % 7 WHEN 0 THEN 'iptables' WHEN 1 THEN 'sudo'
        WHEN 2 THEN 'panos' WHEN 3 THEN 'cee' WHEN 4 THEN 'cim'
        WHEN 5 THEN 'junos' ELSE 'unknown' END AS app,
      CASE event_id % 7 WHEN 0 THEN 'iptables' WHEN 1 THEN 'sudo'
        WHEN 2 THEN 'panos' WHEN 3 THEN 'cee' WHEN 4 THEN 'cim'
        WHEN 5 THEN 'junos' END AS app_nv,
      CASE event_id % 7 WHEN 0 THEN 'TCP'
        WHEN 1 THEN '/bin/ls /tmp/f' || event_id
        WHEN 2 THEN 'ev' || event_id
        WHEN 3 THEN 'u' || user_id
        WHEN 4 THEN 'search'
        WHEN 5 THEN 'TCP FIN' END AS evidence
      FROM events ORDER BY event_id"""))

  // ---------------------------------------------------------------------
  // All queries
  // ---------------------------------------------------------------------
  val all: Seq[Q] = Seq(aggStats, filterSeverity, enrichLookup, joinAsof,
    filterMatch, filterNetmask, filterNetmask6, filterInList,
    rewriteSubst, rewriteCcMask, rewriteSetTag,
    templateFormat, templateFuncs, templateHofs,
    parseSyslogRfc3164, parseSyslogRfc5424, parseSyslogStrict,
    routeJunction, patterndbClassify, patterndbProgramScope, patterndbSynthetic,
    appParserQ, appParserTopicQ, defaultNetwork,
    enrichRange, enrichGlob,
    parseCsv, parseCsvGreedy, parseKv, parseAudit, parseSnmptrap, parseKmsg,
    parsePacct, parseJsonFlat,
    parseJsonNested, parseXml, parseDate, parseDateStrftime, parseTagsRekey,
    parseApache, rewriteGroupset, filterMatchStore,
    configPipeline, configPipelineV2, configPipelineV3, formatJsonQ, formatWelfCef, vpRekey,
    groupingBySession, groupingByHaving, contextFuncs, suppressQ, throttleQ,
    groupingBySkewSplit, suppressSkewSplit,
    dedupExact, dedupDropped, dedupIncremental, dedupNgramJaccard, dedupMinhash,
    dedupMinhashIncr, dedupSimhash,
    dedupSimhashR3, dedupSimhash128, dedupEmbedding, dedupCc, dedupKeepBest,
    splitLeakageSafe,
    patternizeQ, patternizeWords,
    annBruteForce, annLsh, annIvf, embedPq, embedPqTrained, annPq, annIvfPq,
    dedupSemantic, dedupSemanticKeep,
    textStats, textLangid, textTokensBpe, textTokensBpeTrained,
    textQualityFilter, sampleHash,
    sampleStratified, sampleMixture, sampleMixtureEpochs,
    textClassifierScore, textClassifierLabel,
    decontaminate, decontaminateBloom, decontaminateFrac, decontaminateSemantic,
    textRepetition, textPiiRedact, textSalientTerms, shardPack, dedupSpans,
    textFingerprint, textFingerprintRobust, textDedupLines, textBoilerplate,
    textUnigramQuality, textBigramSurprisal, textCcnetBuckets,
    textCharEntropy,
    textChunking, textChunkingBpe,
    textPackSequences, textPackBpe,
    textDedupUrl, textDomainFilter,
    multimodalFeatures, multimodalStub, multimodalDecode, multimodalPixels,
    multimodalGif, multimodalAudio, multimodalVideo,
    multimodalDhash, dedupImageDhash, multimodalAudioHash,
    decontaminateImage, multimodalVideoHash, dedupVideoDhash,
    dedupImageCc, dedupVideoCc, dedupAudioCc, decontaminateVideo, decontaminateAudioQ)

  val registry: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap
  val oracles: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Bench-only PRODUCTION-path variants: the xxh64 hash family and
    * hashed band keys that would run at 100 TB. xxh64 is not expressible
    * in DuckDB (needs mod-2^64 wraparound multiplies), so these carry no
    * SQL oracle — correctness of the identical code paths is covered by
    * the oracle-mode registry queries (same operators, md5-derived
    * hashes) plus PipelineSpec's Spark-side brute-force equality and
    * precision/recall assertions on the xxh64 family itself. Benched so
    * BENCH_r{N} measures the production path, not the oracle mode. */
  val benchOnly: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // grouping_by_session minus its list aggregate: the skew-matrix
    // twin that separates PLAN cost from OUTPUT cost — on the skew50
    // layout the hot key collapses into ONE session, so the list
    // query's single sorted multi-million-element types column is an
    // output-contract floor no plan can remove; this fixed-width form
    // (count + sum only, same sessionization) shows what the
    // skew-split route actually buys
    "grouping_by_session_fixedwidth" -> ((s: SparkSession, d: String) => {
      val ev = syslogishEvents(s, d)
      Sessions.groupingBy(ev, col("user_id"), col("ts"), 21600,
        Seq(count(lit(1)).as("n"),
          sum(dec(col("value"))).cast("double").as("sum_value")))
        .select(col("key").as("user_id"),
          unix_micros(col("session_start")).as("start_us"),
          col("n"), col("sum_value"))
        .orderBy(col("user_id"), col("start_us"))
    }),
    "dedup_minhash_lsh_xxh64" -> ((s: SparkSession, d: String) =>
      Dedup.minhashPairs(Tables.documents(s, d), col("doc_id"), col("text"),
          shingleK = 3, numHashes = 32, bands = 8, threshold = 0.7,
          algo = "xxh64", hashBandKeys = true)
        .orderBy(col("id_a"), col("id_b"))),
    "dedup_simhash_xxh64_r3" -> ((s: SparkSession, d: String) =>
      Dedup.simhashPairs(Tables.documents(s, d), col("doc_id"), col("text"),
          maxHamming = 3, algo = "xxh64")
        .orderBy(col("id_a"), col("id_b"))),
    "dedup_simhash_xxh64_128" -> ((s: SparkSession, d: String) =>
      Dedup.simhashPairs128(Tables.documents(s, d), col("doc_id"), col("text"),
          maxHamming = 8, algo = "xxh64")
        .orderBy(col("id_a"), col("id_b"))),
    "dedup_embedding_prod" -> ((s: SparkSession, d: String) => {
      // production shape: corpus-sized plane count (planesFor) with
      // 4-table OR-amplification, vs the oracle query's fixed planes=4;
      // the counted corpus size also sizes the bucket-join partitions
      // (cache-resident hash builds — see embeddingPairs)
      val emb = Tables.embeddings(s, d)
      val n = emb.count()
      val planes = Dedup.planesFor(n, targetBucket = 32)
      Dedup.embeddingPairs(emb, col("vec_id"), col("embedding"),
          threshold = 0.95, planes = planes, seed = 42, dim = 64,
          tables = 4, expectedRows = n)
        .orderBy(col("id_a"), col("id_b"))
    }),
    "decontaminate_semantic_prod" -> ((s: SparkSession, d: String) => {
      // production shape: the BENCHMARK side is FIXED-SIZE (an eval
      // set doesn't grow with the training corpus) — vec_id < 400
      // rows at every sf, vs the oracle query's corpus-fraction slice
      // (whose N·B work grows quadratically with sf by construction).
      // This is the number that shows the operator's linear scale path.
      val emb = Tables.embeddings(s, d)
      Dedup.semanticContamination(
          emb.filter(col("vec_id") >= 400), col("vec_id"), col("embedding"),
          emb.filter(col("vec_id") < 400), col("vec_id"), col("embedding"),
          threshold = 0.35)
        .orderBy(col("doc_id"))
    }),
    "dedup_semantic_keep_prod" -> ((s: SparkSession, d: String) => {
      // survivors under the corpus-scaled clustering (see
      // dedup_semantic_prod below for the sizing rationale)
      val emb = Tables.embeddings(s, d)
      val k = math.max(64, (emb.count() / 32L).toInt)
      Similarity.semanticSurvivors(emb, col("vec_id"), col("embedding"),
          nCentroids = k, threshold = 0.4)
        .select(col("vec_id")).orderBy(col("vec_id"))
    }),
    "dedup_semantic_prod" -> ((s: SparkSession, d: String) => {
      // production shape (SemDeDup at corpus scale): the centroid count
      // GROWS with the corpus so the per-cluster population — and with
      // it the within-cluster pairwise cost — stays bounded (~32). The
      // oracle query pins nCentroids=64 for DuckDB parity, which is
      // quadratic-per-cluster as the corpus scales (the r7 sf1 matrix
      // measured it at 17.6x for 10x data; this variant is the one a
      // 100 TB run uses).
      val emb = Tables.embeddings(s, d)
      val k = math.max(64, (emb.count() / 32L).toInt)
      Similarity.semanticPairs(emb, col("vec_id"), col("embedding"),
          nCentroids = k, threshold = 0.95)
        .orderBy(col("id_a"), col("id_b"))
    }))

  /** Oracle-only queries excluded from the bench:
    *  - dedup_simhash — the r=8 64-bit pigeonhole form kept purely for
    *    oracle parity; its ≤256-value chunk key space is the documented
    *    scale hazard, the production r=8 path is dedup_simhash_128.
    *  - dedup_embedding — pins planes=4 (16 buckets) so DuckDB can
    *    replay the exact hyperplanes; with a fixed bucket count the
    *    in-bucket pairwise cost grows quadratically with the corpus
    *    (79x for 10x data in the r7 sf1 matrix). The production path
    *    is dedup_embedding_prod (planesFor-sized buckets, 9.8x for
    *    10x — linear).
    *  - dedup_semantic / dedup_semantic_keep — pin nCentroids=64 for
    *    DuckDB parity; fixed cluster count → per-cluster population
    *    grows with the corpus → quadratic within-cluster pairwise.
    *    The production paths are dedup_semantic_prod /
    *    dedup_semantic_keep_prod (k ≈ N/32; 4.0x for 10x at sf1). */
  val benchExcluded: Set[String] = Set("dedup_simhash", "dedup_embedding",
    "dedup_semantic", "dedup_semantic_keep",
    // oracle-only skew-split harness forms (r15): they force a 64-row
    // split budget so EVERY key takes the hot-key split+stitch path —
    // maximal-overhead correctness exercise for the machinery, not a
    // production plan. The bench measures the session family's
    // production shape via grouping_by_session/suppress, whose default
    // budget (Sessions.defaultHotKeyBudget) is what the skew matrix
    // cells measure.
    "grouping_by_skew_split", "suppress_skew_split")
}
