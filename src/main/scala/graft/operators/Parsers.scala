package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Field-extraction parsers (SURVEY §2.4): csv, kv, linux-audit, date,
  * tags, map-value-pairs. All compositional Column programs — they stay
  * inside whole-stage codegen and fuse with the scan, so at 100 TB each
  * is a narrow map stage with zero shuffle.
  *
  * Reference semantics:
  *  - csv-parser: `modules/csvparser/` + `lib/scanner/csv-scanner/
  *    csv-scanner.h:31-51` (dialects ESCAPE_NONE/BACKSLASH/DOUBLE_CHAR,
  *    flags STRIP_WHITESPACE/GREEDY, null_value).
  *  - kv-parser: `modules/kvformat/kv-parser.h:30-40` + `lib/scanner/
  *    kv-scanner/kv-scanner.h` (value_separator, pair_separator, prefix,
  *    stray words).
  *  - linux-audit-parser: `modules/kvformat/linux-audit-parser.c`
  *    (unquoted values of hex-encoded fields are hex-decoded).
  *  - date-parser: `modules/timestamp/date-parser.c:56,129-215`
  *    (strftime format, timezone).
  *  - tags-parser: `modules/tagsparser/tags-parser.c:24-64`.
  *  - map-value-pairs: `modules/map-value-pairs/map-value-pairs.c:38-61`.
  */
object Parsers {

  sealed trait CsvDialect
  case object EscapeNone extends CsvDialect
  case object EscapeBackslash extends CsvDialect
  case object EscapeDoubleChar extends CsvDialect

  /** csv-parser() with a single-char delimiter and quoting: compiles to
    * `from_csv` (codegen'd univocity parse). Returns a struct column with
    * one string field per declared column. */
  def csvParse(line: Column, columns: Seq[String], delimiter: String = ",",
      quote: String = "\"", dialect: CsvDialect = EscapeDoubleChar,
      nullValue: Option[String] = None): Column = {
    val schema = StructType(columns.map(StructField(_, StringType)))
    val esc = dialect match {
      case EscapeBackslash => "\\"
      case _ => quote // univocity models double-char as escape == quote
    }
    val opts = Map("sep" -> delimiter, "quote" -> quote, "escape" -> esc) ++
      nullValue.map("nullValue" -> _)
    from_csv(line, schema, opts)
  }

  /** csv-parser() with multi-char delimiter sets / greedy / whitespace
    * stripping — the split-based plan for the dialect-free cases
    * (`csv-scanner.h:40-41` CSV_SCANNER_GREEDY/STRIP_WHITESPACE).
    * `greedy` makes the last column consume the rest of the line. */
  def csvSplit(line: Column, columns: Seq[String], delimiters: String = ",",
      greedy: Boolean = false, stripWhitespace: Boolean = false,
      nullValue: Option[String] = None,
      stringDelims: Seq[String] = Nil): Column = {
    // delimiters(strings(...)) — csv-scanner.c _delimiter_string: whole
    // multi-char strings split first, then any single char of the set
    val cls = "[" + java.util.regex.Pattern.quote(delimiters) + "]"
    val pat = (stringDelims.map(java.util.regex.Pattern.quote) :+ cls)
      .mkString("|")
    val parts = if (greedy) split(line, pat, columns.size) else split(line, pat)
    val fields = columns.zipWithIndex.map { case (name, i) =>
      var c: Column = get(parts, lit(i))
      if (stripWhitespace) c = trim(c)
      nullValue.foreach(nv => c = when(c === nv, lit("")).otherwise(c))
      c.as(name)
    }
    struct(fields: _*)
  }

  /** kv-parser(): extract key=value pairs from free text into a
    * `MapType(String,String)` column. Handles quoted values with
    * backslash escapes and tolerates stray words between pairs (which
    * `str_to_map` cannot). One hand-rolled scan ([[graft.functions.KvScan]]
    * — the regex formulation backtracks at ~30µs/row). */
  def kvParse(text: Column, valueSeparator: Char = '=',
      prefix: String = "", pairSeparator: String = ", "): Column =
    graft.functions.KvScan(text, valueSeparator, prefix, rawValues = false,
      pairSep = pairSeparator).getField("pairs")

  /** Words of the input that belong to no key=value pair
    * (`kv_scanner_get_stray_words`): a list-repr string — chunks
    * comma-joined, each str-repr encoded (quoted when it contains
    * spaces/commas/quotes), so `ListFunctions.list_scan` recovers the
    * chunks exactly as the reference's extract-stray-words-into() +
    * $(list-*) pipeline does. */
  def kvStrayWords(text: Column, valueSeparator: Char = '=',
      pairSeparator: String = ", "): Column =
    graft.functions.KvScan(text, valueSeparator, "", rawValues = false,
      pairSep = pairSeparator).getField("stray")

  private def dequote(v: Column): Column = {
    def stripQ(q: String) =
      regexp_replace(v.substr(lit(2), length(v) - 2), "\\\\(.)", "$1")
    when(length(v) >= 2 && v.startsWith("\"") && v.endsWith("\""), stripQ("\""))
      .when(length(v) >= 2 && v.startsWith("'") && v.endsWith("'"), stripQ("'"))
      .otherwise(v)
  }

  /** linux-audit-parser(): auditd kv where unquoted values of the
    * hex-encodable fields arrive hex-encoded (auditd hex-encodes any
    * value with special chars and does NOT quote it; literal values are
    * quoted). Decodes even-length pure-hex unquoted values. */
  /** The hex-carrying audit fields (linux-audit-parser.c
    * hexcoded_fields) — the aN argv registers qualify by pattern. */
  private val AuditHexFields = Seq("name", "proctitle", "path", "dir",
    "comm", "ocomm", "data", "old", "new")

  def auditKvParse(text: Column, hexFields: Set[String] = Set.empty): Column = {
    val entries = map_entries(
      graft.functions.KvScan(text, '=', "", rawValues = true).getField("pairs"))
    map_from_entries(transform(entries, e => {
      val k = e.getField("key")
      val v = e.getField("value")
      val wasQuoted = v.startsWith("\"") || v.startsWith("'")
      // hexcoded_fields + a0/a1/... (linux-audit-parser.c
      // _is_field_hex_encoded); an explicit hexFields set overrides
      val inScope =
        if (hexFields.isEmpty)
          k.rlike("^a[0-9]") ||
            k.isin(AuditHexFields.map(x => x: Any): _*)
        else k.isin(hexFields.toSeq.map(x => x: Any): _*)
      // AuditHexDecode is null unless the full kernel-would-have-
      // escaped predicate holds (incl. NUL -> TAB and UTF-8 validity)
      val decoded = graft.functions.GraftFunctions.audit_hex_decode(v)
      val value = when(!wasQuoted && inScope && decoded.isNotNull, decoded)
        .otherwise(dequote(v))
      struct(k.as("key"), value.as("value"))
    }))
  }

  /** strftime → java.time format conversion for date-parser()
    * (`date-parser.c:129` uses strptime-style formats). Covers the
    * directives the reference's tests exercise. */
  private[graft] def strftimeToJava(fmt: String): String = {
    val sb = new StringBuilder
    var i = 0
    var literal = new StringBuilder
    def flush(): Unit = if (literal.nonEmpty) {
      val s = literal.toString
      // quote anything that java.time would treat as a pattern letter
      if (s.exists(c => c.isLetter)) sb.append("'").append(s.replace("'", "''")).append("'")
      else sb.append(s)
      literal = new StringBuilder
    }
    while (i < fmt.length) {
      if (fmt(i) == '%' && i + 1 < fmt.length) {
        flush()
        fmt(i + 1) match {
          case 'Y' => sb.append("yyyy")
          case 'y' => sb.append("yy")
          case 'm' => sb.append("MM")
          case 'd' => sb.append("dd")
          case 'e' => sb.append("d")
          case 'H' => sb.append("HH")
          case 'I' => sb.append("hh")
          case 'M' => sb.append("mm")
          case 'S' => sb.append("ss")
          case 'f' => sb.append("SSSSSS")
          case 'b' => sb.append("MMM")
          case 'B' => sb.append("MMMM")
          case 'a' => sb.append("EEE")
          case 'p' => sb.append("a")
          case 'z' => sb.append("XXX")
          case 'Z' => sb.append("zzz")
          case 'j' => sb.append("DDD")
          case '%' => literal.append('%')
          case other => literal.append('%').append(other)
        }
        i += 2
      } else { literal.append(fmt(i)); i += 1 }
    }
    flush()
    sb.toString
  }

  /** date-parser(format(), timezone()): parse a string field with a
    * strftime format into a TimestampType. `timezone` names the zone the
    * wall-clock string is in when the format carries no offset. */
  def dateParse(value: Column, strftimeFormat: String,
      timezone: Option[String] = None): Column = {
    val ts = to_timestamp(value, strftimeToJava(strftimeFormat))
    timezone.fold(ts)(tz => to_utc_timestamp(ts, tz))
  }

  /** tags-parser(): serialized comma-joined tag list back to the tags
    * array column. */
  def tagsParse(value: Column): Column =
    filter(split(value, ","), t => t =!= "")

  /** snmptrapd-parser() (`/root/reference/modules/afsnmp/
    * snmptrapd-parser.c`, block `scl/snmptrap/snmptrapd-source.conf`):
    * parse one assembled snmptrapd record per row via
    * [[graft.functions.SnmpTrapdScan]]. Rows the header parser rejects
    * are DROPPED (the reference parser returns FALSE → message
    * dropped from the path). Header fields and varbinds land in
    * `values` under `prefix` (keys `:`-normalized); `program` becomes
    * "snmptrapd"; `ts` takes the header timestamp; `message` becomes
    * the `key='value', ...` rendering when `setMessageMacro` (else
    * null — LM_V_MESSAGE unset). */
  def snmptrapdParser(df: DataFrame, prefix: String = ".snmp.",
      setMessageMacro: Boolean = true, field: String = "message"): DataFrame = {
    val withP = df
      .withColumn("__snmp", graft.functions.SnmpTrapdScan(col(field)))
      .filter(col("__snmp.ok"))
    val p = col("__snmp")
    def opt(key: String, v: Column): Column =
      when(v.isNotNull, map(lit(prefix + key), v))
        .otherwise(map().cast("map<string,string>"))
    val headerNv = map_concat(
      opt("hostname", p.getField("hostname")),
      opt("transport_info", p.getField("transport_info")),
      opt("enterprise_oid", p.getField("enterprise_oid")),
      opt("type", p.getField("trap_type")),
      opt("subtype", p.getField("subtype")),
      opt("uptime", p.getField("uptime")))
    val varbinds = transform_keys(p.getField("pairs"),
      (k, _) => concat(lit(prefix), k))
    val values0 =
      if (df.columns.contains("values")) col("values")
      else map().cast("map<string,string>")
    // last-set-wins like log_msg_set_value_by_name: varbinds shadow
    // header NVs, both shadow pre-existing keys
    val adds = map_concat(
      map_filter(headerNv, (k, _) => !array_contains(map_keys(varbinds), k)),
      varbinds)
    withP
      .withColumn("values", map_concat(
        map_filter(values0, (k, _) => !array_contains(map_keys(adds), k)),
        adds))
      .withColumn("program", lit("snmptrapd"))
      // try_: the header scan validates DIGITS, not the calendar —
      // "9999-99-99 99:99:99" must yield a null ts, not an ANSI throw
      // (the reference's mktime normalizes such values instead)
      .withColumn("ts", try_to_timestamp(p.getField("ts")))
      .withColumn(field,
        if (setMessageMacro) p.getField("msg") else lit(null).cast("string"))
      .drop("__snmp")
  }

  /** map-value-pairs(): bulk rename of map keys via glob patterns, first
    * matching glob wins (`map-value-pairs.c:38-61`). Renames like
    * `("foo.*", "bar.")` rewrite the matched prefix. */
  def mapValuePairs(m: Column, renames: Seq[(String, String)]): Column =
    transform_keys(m, (k, _) =>
      renames.foldRight(k) { case ((glob, replacement), acc) =>
        if (glob.endsWith("*"))
          when(k.startsWith(glob.dropRight(1)),
            concat(lit(replacement), k.substr(lit(glob.length), length(k))))
            .otherwise(acc)
        else when(k === glob, lit(replacement)).otherwise(acc)
      })
}
