package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Vendor device-log parsers — the reference ships these as scl config
  * blocks composed from csv/kv/date/match primitives
  * (`/root/reference/scl/cisco/plugin.conf`,
  * `scl/checkpoint/plugin.conf`, `scl/paloalto/panos.conf`); here each
  * is the same composition expressed as ONE narrow Column pipeline (no
  * try-and-reparse channels — the format branches are `when()` arms on
  * cheap structural predicates, so a 100 TB scan stays single-pass and
  * codegen'd).
  *
  * Extracted fields land in the `values` map under the vendor prefix
  * (the reference's NV names: `.cisco.facility`, `.panos.type`, ...);
  * HOST/PROGRAM/MSG rewrites hit the corresponding columns.
  *
  * Each parser is written as an [[Fx]] — the staged EFFECT of the
  * parser on a frame (the values entries to add, the column
  * assignments) rather than an applied transform. The fused composites
  * ([[Scl.appParser]], [[Scl.defaultNetworkDrivers]]) combine many
  * effects into ONE values-map rebuild per row: the reference delivers
  * each message to exactly one application channel (`lib/logmpx.c:
  * 88-109`), so the route predicates partition the rows and a
  * route-keyed `coalesce(when(route===a, add_a), ...)` picks exactly
  * one add map per row — instead of each parser re-filtering and
  * re-concatenating the whole values map (~14 full map rebuilds per
  * row in default-network-drivers, the round-5 profile's dominant
  * cost).
  */
object VendorParsers {

  /** The effect of one guarded parser on a frame.
    *
    * @param guard rows the parser claims; effects apply only there, and
    *              guards across a composite's parsers must be mutually
    *              exclusive (routes partition rows)
    * @param adds  map<string,string> values entries for guarded rows
    *              (null-valued entries are dropped at merge time)
    * @param sets  column assignments for guarded rows; the value
    *              expression reads the PRE-assignment frame, so
    *              fallbacks like coalesce(parsed, col("host")) see the
    *              original column
    * @param stage helper columns the effect's expressions read more
    *              than once (kept as real columns so CollapseProject
    *              doesn't duplicate the expensive expression)
    * @param drops staged helper columns to drop after application
    */
  private[graft] final case class Fx(
      guard: Column,
      adds: Column,
      sets: Seq[(String, Column)] = Nil,
      stage: DataFrame => DataFrame = identity[DataFrame],
      drops: Seq[String] = Nil)

  private def emptyMap: Column = map().cast("map<string,string>")

  private def valuesOrEmpty(df: DataFrame): Column =
    if (df.columns.contains("values")) col("values") else emptyMap

  /** The existing value of a LogRecord column, typed correctly when the
    * frame lacks it (the un-matched fallback of every set chain). */
  private def existingCol(df: DataFrame, name: String): Column =
    if (df.columns.contains(name)) name match {
      case "ts" => col("ts").cast("timestamp")
      case _ => col(name)
    } else name match {
      case "facility" | "severity" => lit(null).cast("int")
      case "ts" => lit(null).cast("timestamp")
      case "tags" => array().cast("array<string>")
      case _ => lit(null).cast("string")
    }

  /** Merge non-null entries of `add` into values (new keys win) — the
    * ONE full values rebuild a fused composite performs. CAUTION: only
    * call with `add` already STAGED as a real column (applyFx's
    * __fx_adds) — a raw expression here lands INSIDE the map_filter
    * lambda and re-evaluates once per `values` ENTRY per row (the r7
    * profile measured the whole vendor-parse chain running ~7x per
    * row through this shape). */
  private def merged(df: DataFrame, clean: Column, cleanKeys: Column): Column =
    map_concat(
      map_filter(valuesOrEmpty(df), (k, _) => !array_contains(cleanKeys, k)),
      clean)

  /** Apply a set of route-partitioned effects with ONE values merge.
    *
    * `preAdds` lose to the routed parser adds, `postAdds` win over them
    * (all three groups combine small maps — only the final merge into
    * `values` walks the full map); `concatAdds` must be KEY-DISJOINT
    * from the routed adds per row (vendor adds are all
    * `.vendor.`-prefixed, so e.g. the `.app.name` tag map qualifies)
    * and skip the membership-filter walk entirely. Set chains are
    * built per column: `when(g1, v1).when(g2, v2)...otherwise(
    * existing)` — exclusive guards make the arm order irrelevant.
    */
  private[graft] def applyFx(df0: DataFrame, fxs: Seq[Fx],
      preAdds: Seq[Column] = Nil, postAdds: Seq[Column] = Nil,
      concatAdds: Seq[Column] = Nil): DataFrame = {
    val staged = fxs.foldLeft(df0)((d, fx) => fx.stage(d))
    val routedAdd =
      coalesce(fxs.map(fx => when(fx.guard, fx.adds)) :+ emptyMap: _*)
    val chained = (preAdds ++ (routedAdd +: postAdds)).reduceLeft { (a, b) =>
      map_concat(map_filter(a, (k, _) => !array_contains(map_keys(b), k)), b)
    }
    val add = (chained +: concatAdds).reduceLeft(map_concat(_, _))
    // stage the merged adds-map (and its key array) as Fence'd REAL
    // columns: the final values rebuild references them from inside a
    // map_filter lambda, which re-evaluates its body per entry — with
    // the raw expression inlined there, the entire routed parse chain
    // ran once per existing values KEY per row (~7x at default_network)
    val staged2 = staged
      .withColumn("__fx_adds",
        graft.functions.Fence(map_filter(add, (_, v) => v.isNotNull)))
      .withColumn("__fx_addkeys",
        graft.functions.Fence(map_keys(col("__fx_adds"))))
    val names = fxs.flatMap(_.sets.map(_._1)).distinct
    val assigns = names.map { name =>
      val arms = fxs.flatMap(fx =>
        fx.sets.collect { case (`name`, v) => (fx.guard, v) })
      val expr = arms.tail
        .foldLeft(when(arms.head._1, arms.head._2))((acc, a) => acc.when(a._1, a._2))
        .otherwise(existingCol(df0, name))
      name -> expr
    }.toMap + ("values" -> merged(staged2, col("__fx_adds"), col("__fx_addkeys")))
    val out = staged2.withColumns(assigns)
    val drops = fxs.flatMap(_.drops) ++ Seq("__fx_adds", "__fx_addkeys")
    out.drop(drops: _*)
  }

  /** Apply one effect standalone (the single-parser config statements —
    * same path as the composites, with a one-entry chain). */
  private def applyOne(df: DataFrame, fx: Fx): DataFrame = applyFx(df, Seq(fx))

  // ---- cisco ---------------------------------------------------------------
  /** cisco-parser() (`scl/cisco/plugin.conf`): `<pri>(seq: )?(host: )?
    * (*timestamp: )?%FAC-SEV-MNEMONIC: text`. The %-triplet classifies
    * the message; host and timestamp are optional header pieces.
    * `guard` narrows applicability beyond the structural check — the
    * fused app-parser compile passes its route predicate so one
    * projection chain hosts every vendor without cross-talk. */
  private[graft] def ciscoFx(df: DataFrame, prefix: String = ".cisco.",
      refYear: Int = 2024, guard: Column = lit(true)): Fx = {
    val msg = col("message")
    // the whole structural parse — pri, first-": %" header/body split,
    // FAC-SEV-MNEMONIC triplet (4-part STANDBY fold), seqno strip,
    // host/timestamp header classification — is ONE linear scan
    // (functions.CiscoScan, null on non-cisco lines), replacing the
    // regex chain that cost ~8 backtracking regex runs per row
    val isCisco = col("__cisco_ok")
    def g(f: String): Column = col("__cisco").getField(f)
    // year-less cisco timestamp: the scan already strips the '*'
    // unsynced-clock marker; prepend the reference year, try the
    // sub-second form first (runs only on matched rows)
    val cleanTs = concat(lit(s"$refYear "), g("ts_text"))
    val ts = when(g("ts_text").isNotNull, coalesce(
      try_to_timestamp(cleanTs, lit("yyyy MMM d HH:mm:ss.SSS")),
      try_to_timestamp(cleanTs, lit("yyyy MMM d HH:mm:ss"))))
    Fx(
      guard = isCisco,
      adds = map(
        lit(prefix + "facility"), g("facs"),
        lit(prefix + "severity"), g("sevs"),
        lit(prefix + "mnemonic"), g("mnem")),
      sets = Seq(
        "message" -> g("msg"),
        "facility" -> g("fac"),
        "severity" -> g("sev"),
        "host" -> coalesce(g("host"), existingCol(df, "host")),
        "ts" -> coalesce(ts, existingCol(df, "ts"))),
      stage = d => d
        .withColumn("__cisco", graft.functions.Fence(
          when(guard, graft.functions.CiscoScan(msg))))
        .withColumn("__cisco_ok", col("__cisco").isNotNull),
      drops = Seq("__cisco_ok", "__cisco"))
  }

  def cisco(df: DataFrame, prefix: String = ".cisco.",
      refYear: Int = 2024, guard: Column = lit(true)): DataFrame =
    applyOne(df, ciscoFx(df, prefix, refYear, guard))

  // ---- checkpoint ----------------------------------------------------------
  /** checkpoint-parser() (`scl/checkpoint/plugin.conf`): the syslog
    * form (`<pri>1 DATE HOST CheckPoint PID - [k:"v"; ...]`, date
    * either ISO-T or `date time` split across two fields) and the
    * splunk form (`time=...|hostname=...|product=Firewall`). */
  private[graft] def checkpointFx(df: DataFrame, prefix: String = ".checkpoint.",
      guard: Column = lit(true)): Fx = {
    val msg = col("message")
    val isSyslog = msg.startsWith("<")
    val f = split(msg, " ")
    val tForm = try_element_at(f, lit(2)).rlike("^\\d{4}-\\d{2}-\\d{2}T")
    // columns 1,2,HOST,PROGRAM,PID,MSGID,MSG(greedy) — or 1,2,3,... when
    // the timestamp occupies two space-separated fields
    def tailFrom(k: Int): Column =
      array_join(slice(f, lit(k), greatest(size(f) - (k - 1), lit(0))), " ")
    val host = when(tForm, try_element_at(f, lit(3))).otherwise(try_element_at(f, lit(4)))
    val program = when(tForm, try_element_at(f, lit(4))).otherwise(try_element_at(f, lit(5)))
    val pid = when(tForm, try_element_at(f, lit(5))).otherwise(try_element_at(f, lit(6)))
    val kvBody = when(tForm, tailFrom(7)).otherwise(tailFrom(8))
    val tsRaw = when(tForm, try_element_at(f, lit(2))).otherwise(
      concat_ws(" ", try_element_at(f, lit(2)), try_element_at(f, lit(3))))
    val ts = coalesce(
      try_to_timestamp(tsRaw, lit("yyyy-MM-dd'T'HH:mm:ssXXX")),
      try_to_timestamp(tsRaw, lit("yyyy-MM-dd'T'HH:mm:ss")),
      try_to_timestamp(tsRaw, lit("yyyy-MM-dd HH:mm:ss")))
    // syslog form: [action:"Update"; flags:"150784"; ...] — quoted kv
    // pairs, ':'-separated; quotes guard embedded ';' so the whitespace
    // scanner needs no explicit pair separator. splunk form: k=v pairs
    // '|'-separated, no quoting (the reference accepts that limitation,
    // plugin.conf "not handling value escaping properly")
    // the header split is staged ONCE per matched row (see ciscoFx)
    def g(f: String): Column = col("__cp").getField(f)
    Fx(
      guard = guard,
      // syslog form: value-separator(':') pair-separator(';')
      // (scl/checkpoint/plugin.conf:65)
      adds = when(isSyslog, Parsers.kvParse(g("kvb"), ':', prefix,
          pairSeparator = ";"))
        .otherwise(Parsers.kvParse(translate(msg, "|", " "), '=', prefix)),
      sets = Seq(
        "host" -> coalesce(g("host"), existingCol(df, "host")),
        "program" -> when(isSyslog, g("prog")).otherwise(existingCol(df, "program")),
        "pid" -> when(isSyslog, g("pid")).otherwise(existingCol(df, "pid")),
        "ts" -> when(isSyslog, g("ts")).otherwise(existingCol(df, "ts")),
        "message" -> when(isSyslog, g("kvb")).otherwise(msg)),
      stage = d => d.withColumn("__cp", graft.functions.Fence(
        when(guard && isSyslog, struct(
          host.as("host"), program.as("prog"), pid.as("pid"),
          ts.as("ts"), kvBody.as("kvb"))))),
      drops = Seq("__cp"))
  }

  def checkpoint(df: DataFrame, prefix: String = ".checkpoint.",
      guard: Column = lit(true)): DataFrame =
    applyOne(df, checkpointFx(df, prefix, guard))

  // ---- iptables ------------------------------------------------------------
  /** iptables-parser() (`scl/iptables/iptables.conf`): the kernel's
    * netfilter log line is pure kv (`IN=eth0 OUT= SRC=1.2.3.4 ...`);
    * flag words without '=' (`DF`, `SYN`) are stray words, exactly the
    * reference's kv-parser behavior. The application filter
    * (facility(kern) + program(kernel) + "PROTO=" substring) guards at
    * the app-parser level; here any row containing `PROTO=` parses. */
  private[graft] def iptablesFx(df: DataFrame, prefix: String = ".iptables.",
      guard: Column = lit(true)): Fx = {
    val msg = col("message")
    Fx(guard = guard && msg.contains("PROTO="),
      adds = Parsers.kvParse(msg, '=', prefix))
  }

  def iptables(df: DataFrame, prefix: String = ".iptables.",
      guard: Column = lit(true)): DataFrame =
    applyOne(df, iptablesFx(df, prefix, guard))

  // ---- sudo ----------------------------------------------------------------
  /** sudo-parser() (`scl/sudo/sudo.conf`): `SUBJECT : TTY=pts/0 ;
    * PWD=/home ; USER=root ; COMMAND=/bin/ls -la`. Pairs are
    * ';'-separated so values keep embedded spaces (kv-parser
    * pair-separator(';')); the leading stray word is the acting user
    * (extract-stray-words-into('0') + list-head). Rows without a
    * COMMAND pair (pam noise) are flagged via the presence of the key —
    * the application-level filter drops them. */
  private[graft] def sudoFx(df: DataFrame, prefix: String = ".sudo.",
      guard: Column = lit(true)): Fx = {
    val msg = col("message")
    val isSudo = guard && msg.contains(" : ") && msg.contains("=")
    val subject = trim(substring_index(msg, " : ", 1))
    val body = msg.substr(length(substring_index(msg, " : ", 1)) + lit(4), length(msg))
    // ';'-separated K=V pairs; V is greedy to the pair end, so embedded
    // spaces survive (COMMAND=/bin/ls -la) — the pair-separator(';')
    // semantics a space-scanning kv parser cannot give
    val entries = transform(
      filter(transform(split(body, " ; "), p => trim(p)), p => instr(p, "=") > 0),
      t => struct(
        concat(lit(prefix), substring_index(t, "=", 1)).as("key"),
        t.substr(instr(t, "=") + 1, length(t)).as("value")))
    // last-wins on duplicate keys (kv-parser semantics) without
    // map_from_entries' duplicate-key exception: reverse + first-wins fold
    val kvs = aggregate(reverse(entries), emptyMap,
      (acc, e) => when(array_contains(map_keys(acc), e.getField("key")), acc)
        .otherwise(map_concat(acc, map(e.getField("key"), e.getField("value")))))
    Fx(guard = isSudo,
      adds = map_concat(
        // a hostile "SUBJECT=..." pair must not collide with the
        // extracted subject (duplicate map keys throw under ANSI)
        map_filter(kvs, (k, _) => k =!= lit(prefix + "SUBJECT")),
        map(lit(prefix + "SUBJECT"), subject)))
  }

  def sudo(df: DataFrame, prefix: String = ".sudo.",
      guard: Column = lit(true)): DataFrame =
    applyOne(df, sudoFx(df, prefix, guard))

  // ---- fortigate -----------------------------------------------------------
  /** fortigate-parser() (`scl/fortigate/fortigate.conf`): the body after
    * the raw `<pri>` is pure kv (`date=2023-01-02 time=03:04:05
    * devname="fw1" ...`), then date+time fields combine into the
    * timestamp (the reference's date-parser(format("%Y-%m-%d %H:%M:%S"))
    * over "${.fortigate.date} ${.fortigate.time}"). */
  private[graft] def fortigateFx(df: DataFrame, prefix: String = ".fortigate.",
      guard: Column = lit(true)): Fx = {
    val msg = col("message")
    val isFgt = guard && msg.rlike("^(<\\d{1,3}>)?date=")
    val body = regexp_replace(msg, "^<\\d{1,3}>", "")
    // the kv scan is staged ONCE per matched row — both the adds map
    // and the ts set read it
    val kvs = coalesce(col("__fgt"), emptyMap)
    val ts = try_to_timestamp(
      concat_ws(" ",
        try_element_at(kvs, lit(prefix + "date")),
        try_element_at(kvs, lit(prefix + "time"))),
      lit("yyyy-MM-dd HH:mm:ss"))
    Fx(guard = isFgt, adds = kvs,
      sets = Seq("ts" -> coalesce(ts, existingCol(df, "ts"))),
      stage = d => d.withColumn("__fgt",
        when(isFgt, Parsers.kvParse(body, '=', prefix))),
      drops = Seq("__fgt"))
  }

  def fortigate(df: DataFrame, prefix: String = ".fortigate.",
      guard: Column = lit(true)): DataFrame =
    applyOne(df, fortigateFx(df, prefix, guard))

  // ---- apache access log ---------------------------------------------------
  /** apache-accesslog-parser() (`scl/apache/apache.conf`): the four
    * LogFormat shapes — common / combined, each with an optional
    * `vhost:port ` prefix — parsed into the reference's logstash-like
    * field names. Quoted fields use the csv-parser's escape-double-char
    * dialect (`""` → `"`); response/bytes may be `-`; rawrequest splits
    * into verb/request/httpversion with `HTTP/` stripped
    * (the reference's trailing subst). One narrow codegen'd projection. */
  private[graft] def apacheFx(df: DataFrame, prefix: String = ".apache.",
      guard: Column = lit(true)): Fx = {
    val msg = col("message")
    // ONE linear scan extracts every group (functions.ApacheScan -- the
    // kv_scan treatment applied to the former 11-group packing regex,
    // whose optional-group backtracking cost ~100+ us/row). The group
    // array is STAGED as a real column before the map build: map_filter
    // is a higher-order function that takes its projection down the
    // interpreted (no-CSE) path, and an inlined scan would re-run once
    // per field read
    def g(i: Int): Column = try_element_at(col("__ap_f"), lit(i))
    // "" unescape only when an escape is present -- instr beats a regex
    val unq = (c: Column) =>
      when(c.contains("\"\""), regexp_replace(c, "\"\"", "\"")).otherwise(c)
    val httpTok = try_element_at(col("__ap_rq"), lit(3))
    val isApache = guard && col("__ap_f").isNotNull
    val add = map(
      lit(prefix + "clientip"), g(3),
      lit(prefix + "ident"), g(4),
      lit(prefix + "auth"), g(5),
      lit(prefix + "timestamp"), g(6),
      lit(prefix + "rawrequest"), col("__ap_raw"),
      lit(prefix + "response"), g(8),
      lit(prefix + "bytes"), g(9),
      lit(prefix + "referrer"), unq(g(10)),
      lit(prefix + "agent"), unq(g(11)),
      lit(prefix + "vhost"), g(1),
      lit(prefix + "port"), g(2),
      lit(prefix + "verb"), try_element_at(col("__ap_rq"), lit(1)),
      lit(prefix + "request"), try_element_at(col("__ap_rq"), lit(2)),
      lit(prefix + "httpversion"),
        when(httpTok.startsWith("HTTP/"), httpTok.substr(lit(6), length(httpTok)))
          .otherwise(httpTok))
    val ts = try_to_timestamp(g(6), lit("dd/MMM/yyyy:HH:mm:ss Z"))
    Fx(
      guard = isApache,
      adds = map_filter(add, (_, v) => v.isNotNull && v =!= ""),
      sets = Seq("ts" -> coalesce(ts, existingCol(df, "ts"))),
      stage = d => d
        .withColumn("__ap_f", graft.functions.ApacheScan(msg))
        .withColumn("__ap_raw", unq(try_element_at(col("__ap_f"), lit(7))))
        .withColumn("__ap_rq", split(col("__ap_raw"), " ")),
      drops = Seq("__ap_f", "__ap_raw", "__ap_rq"))
  }

  def apacheAccesslog(df: DataFrame, prefix: String = ".apache."): DataFrame =
    applyOne(df, apacheFx(df, prefix))

  // ---- palo alto panos -----------------------------------------------------
  /** panos-parser() (`scl/paloalto/panos.conf`): syslog header, then a
    * comma CSV whose layout depends on the `type` field (SYSTEM /
    * CONFIG with its 15- and 17-column variants / other).
    *
    * Two input shapes: the RAW headered line (standalone statement —
    * applicability gated on the embedded-header host, as before), or
    * a post-syslog-parse message starting at the CSV (the application
    * registry path — pass `guard` = the route predicate; the header
    * regex simply won't match and the CSV is the whole message). */
  private[graft] def panosFx(df: DataFrame, prefix: String = ".panos.",
      guard: Column = null): Fx = {
    // panos.conf:40 — the csv-parser template is ${LEGACY_MSGHDR}${MESSAGE}:
    // the legacy program parse ate "1,<date>" plus one space, so the
    // reconstruction is program + " " + message (the un-tagged CSV never
    // carries a [pid] or ':', making the consumed header exactly that)
    val msg =
      if (df.columns.contains("program"))
        when(col("program").startsWith("1,"),
          concat(col("program"), lit(" "), col("message")))
          .otherwise(col("message"))
      else col("message")
    // strip "<pri>Mmm dd hh:mm:ss host " — the LEGACY_MSGHDR+MESSAGE
    // the reference's csv-parser consumes starts after the RFC3164 header
    val headRe = "^(?:<\\d+>)?[A-Za-z]{3} +\\d{1,2} \\d{2}:\\d{2}:\\d{2} (\\S+) "
    val host = regexp_extract(msg, headRe, 1)
    val csv = regexp_replace(msg, headRe, "")
    val f = split(csv, ",")
    def fld(i: Int): Column = try_element_at(f, lit(i))
    val typ = fld(4)
    val head = map(
      lit(prefix + "receive_time"), fld(2),
      lit(prefix + "serial"), fld(3),
      lit(prefix + "type"), typ,
      lit(prefix + "subtype"), fld(5),
      lit(prefix + "time_generated"), fld(7))
    val nTail = size(f) - 7 // fields after the fixed 7-column prefix
    def tail(i: Int): Column = try_element_at(f, lit(i + 7)) // 1-based into tmp
    val system = map(
      lit(prefix + "vsys"), tail(1), lit(prefix + "eventid"), tail(2),
      lit(prefix + "object"), tail(3), lit(prefix + "module"), tail(6),
      lit(prefix + "severity"), tail(7), lit(prefix + "opaque"), tail(8),
      lit(prefix + "seqno"), tail(9), lit(prefix + "actionflags"), tail(10),
      lit(prefix + "vsys_name"), tail(15), lit(prefix + "device_name"), tail(16))
    // CONFIG: host,vsys,cmd,admin,client,result,path[,before,after],
    // seqno,actionflags,dg1..4,vsys_name,device_name — the custom form
    // inserts 2 columns after path (panos.conf tries the 15-column
    // layout first, falls back to 17)
    val custom = nTail >= 17
    def cfgTail(i: Int): Column = // index in the 15-col layout
      when(custom && lit(i >= 8), try_element_at(f, lit(i + 9))).otherwise(try_element_at(f, lit(i + 7)))
    val config = map_concat(map(
      lit(prefix + "host"), cfgTail(1), lit(prefix + "vsys"), cfgTail(2),
      lit(prefix + "cmd"), cfgTail(3), lit(prefix + "admin"), cfgTail(4),
      lit(prefix + "client"), cfgTail(5), lit(prefix + "result"), cfgTail(6),
      lit(prefix + "path"), cfgTail(7), lit(prefix + "seqno"), cfgTail(8),
      lit(prefix + "actionflags"), cfgTail(9), lit(prefix + "vsys_name"), cfgTail(14),
      lit(prefix + "device_name"), cfgTail(15)),
      when(custom, map(
        lit(prefix + "before_change_detail"), try_element_at(f, lit(15)),
        lit(prefix + "after_change_detail"), try_element_at(f, lit(16))))
        .otherwise(emptyMap))
    val isPanos =
      (if (guard == null) host =!= "" else guard) && size(f) >= 7
    Fx(
      guard = isPanos,
      adds = when(typ === "SYSTEM", map_concat(head, system))
        .when(typ === "CONFIG", map_concat(head, config))
        .otherwise(head),
      sets = Seq(
        // only an embedded-header host may rewrite the host column — the
        // registry path's stripped messages have none
        "host" -> coalesce(when(host =!= "", host), existingCol(df, "host")),
        "program" -> lit("paloalto_panos")))
  }

  def panos(df: DataFrame, prefix: String = ".panos.",
      guard: Column = null): DataFrame =
    applyOne(df, panosFx(df, prefix, guard))

  // ---- netskope ------------------------------------------------------------
  /** netskope-parser() (`scl/netskope/plugin.conf:30-38`): the whole
    * no-parse line is `<pri>{json}` — strip the pri, json-parse under
    * the prefix. */
  private[graft] def netskopeFx(df: DataFrame, prefix: String = ".netskope.",
      guard: Column = lit(true)): Fx = {
    val msg = col("message")
    val isNs = guard && msg.rlike("^<[0-9]+>\\{")
    val body = regexp_replace(msg, "^<[0-9]+>", "")
    Fx(guard = isNs,
      adds = coalesce(graft.functions.JsonFlatten(body, prefix, ""), emptyMap))
  }

  def netskope(df: DataFrame, prefix: String = ".netskope.",
      guard: Column = lit(true)): DataFrame =
    applyOne(df, netskopeFx(df, prefix, guard))

  // ---- websense ------------------------------------------------------------
  /** websense-parser() (`scl/websense/plugin.conf:26-47`): the raw
    * line is BSD-timestamp + timezone code + host + `vendor=Websense
    * k=v ...` with no program tag. The reference substs away the
    * timezone and injects a `Websense: ` program so syslog-parser()
    * accepts it, then kv-parses; same composition here on one staged
    * parse. */
  private[graft] def websenseFx(df: DataFrame, prefix: String = ".websense.",
      guard: Column = lit(true)): Fx = {
    val msg = col("message")
    val isWs = guard && msg.contains("vendor=Websense")
    val fixed = regexp_replace(
      regexp_replace(msg,
        "([A-Za-z]{3} [0-9 ]\\d \\d{2}:\\d{2}:\\d{2}) [A-Z]{3,4}", "$1 "),
      "vendor=Websense", "Websense: vendor=Websense")
    Fx(
      guard = isWs,
      adds = Parsers.kvParse(col("__ws.message"), '=', prefix),
      sets = Seq(
        "host" -> col("__ws.host"),
        "program" -> col("__ws.program"),
        "facility" -> col("__ws.facility"),
        "severity" -> col("__ws.severity"),
        "ts" -> col("__ws.ts"),
        "message" -> col("__ws.message")),
      stage = d => d.withColumn("__ws",
        when(isWs, graft.functions.GraftFunctions.parse_syslog(fixed))),
      drops = Seq("__ws"))
  }

  def websense(df: DataFrame, prefix: String = ".websense.",
      guard: Column = lit(true)): DataFrame =
    applyOne(df, websenseFx(df, prefix, guard))
}
