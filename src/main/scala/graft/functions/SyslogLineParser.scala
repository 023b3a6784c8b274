package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.unsafe.types.UTF8String

/** Syslog line parser: RFC3164 ("legacy"/BSD) and RFC5424 in one pass.
  *
  * Behavioral reference: `/root/reference/modules/syslogformat/
  * syslog-format.c` — PRI `<13>` split into facility*8+severity (:64-103),
  * BSD timestamp (:245-290), hostname scan with IPv6 heuristics and the
  * followed-by-space rule (:440-495), `program[pid]:` header (:319),
  * Cisco sequence-id / clock-sync attributes (:192-240), AIX
  * "Message forwarded from" (:754), RFC5424 strict mode with field caps
  * and parse-error injection (:883-1010, `lib/msg-format.c:41-64`), and
  * SDATA `[id a="b"]` flattened to `id.a` keys (:518-727).
  *
  * This is a clean-room implementation: a single left-to-right scan over
  * the line, no regexes, no intermediate splits, so it can sit inside
  * whole-stage codegen as one static call per row.
  *
  * Two dispatch modes mirror `syslog_format_handler`:
  *  - default (lenient): the engine's documented superset — RFC5424
  *    auto-detected by `1 ` after the PRI, graceful degradation on
  *    malformed input (never error-injects);
  *  - `flags(syslog-protocol)` (strict): `log_msg_parse_syslog_proto`
  *    verbatim — malformed messages become the reference's
  *    "Error processing log message: ...>@<..." injection with
  *    pri 43 (syslog.err) and program "syslog-ng".
  *
  * Output row layout matches [[graft.model.LogSchema.parsedSchema]]:
  * (pri, facility, severity, version, ts_micros, host, program, pid,
  * msgid, sdata, message).
  */
object SyslogLineParser {
  final val DefaultPri = 13 // user.notice, reference syslog-format.c default

  private val months = Map(
    "Jan" -> 1, "Feb" -> 2, "Mar" -> 3, "Apr" -> 4, "May" -> 5, "Jun" -> 6,
    "Jul" -> 7, "Aug" -> 8, "Sep" -> 9, "Oct" -> 10, "Nov" -> 11, "Dec" -> 12)

  /** Days since epoch for a civil date (proleptic Gregorian, public
    * Howard Hinnant algorithm shape). */
  private def daysFromCivil(y: Int, m: Int, d: Int): Long = {
    val yy = if (m <= 2) y - 1 else y
    val era = (if (yy >= 0) yy else yy - 399) / 400
    val yoe = yy - era * 400
    val doy = (153 * (if (m > 2) m - 3 else m + 9) + 2) / 5 + d - 1
    val doe = yoe * 365 + yoe / 4 - yoe / 100 + doy
    era * 146097L + doe - 719468L
  }

  /** Epoch micros from date-time parts + tz offset seconds. */
  private def toMicros(y: Int, mo: Int, d: Int, h: Int, mi: Int, s: Int,
      micros: Int, tzOffSec: Int): Long = {
    val days = daysFromCivil(y, mo, d)
    (days * 86400L + h * 3600L + mi * 60L + s - tzOffSec) * 1000000L + micros
  }

  // ---- scanning state ----------------------------------------------------
  final class Cursor(val s: String) {
    var pos: Int = 0
    def len: Int = s.length
    def atEnd: Boolean = pos >= len
    def peek: Char = if (pos < len) s.charAt(pos) else '\u0000'
    def skipSpaces(): Unit = while (pos < len && s.charAt(pos) == ' ') pos += 1
    /** `log_msg_parse_skip_space`: exactly one. */
    def skipOneSpace(): Boolean =
      if (pos < len && s.charAt(pos) == ' ') { pos += 1; true } else false
  }

  private def parseIntUpTo(c: Cursor, maxDigits: Int): Int = {
    var v = 0; var n = 0
    while (n < maxDigits && !c.atEnd && c.peek >= '0' && c.peek <= '9') {
      v = v * 10 + (c.peek - '0'); c.pos += 1; n += 1
    }
    if (n == 0) -1 else v
  }

  /** ISO8601-ish timestamp: `YYYY-MM-DD[T ]HH:MM:SS[.frac][Z|±HH:MM|±HHMM]`.
    * Returns epoch micros or Long.MinValue on failure (cursor restored). */
  def parseIsoTimestamp(c: Cursor): Long = {
    val start = c.pos
    def fail(): Long = { c.pos = start; Long.MinValue }
    val y = parseIntUpTo(c, 4)
    if (y < 0 || c.peek != '-') return fail()
    c.pos += 1
    val mo = parseIntUpTo(c, 2)
    if (mo < 1 || mo > 12 || c.peek != '-') return fail()
    c.pos += 1
    val d = parseIntUpTo(c, 2)
    if (d < 1 || d > 31) return fail()
    if (c.peek != 'T' && c.peek != 't' && c.peek != ' ') return fail()
    c.pos += 1
    val h = parseIntUpTo(c, 2)
    if (h < 0 || h > 23 || c.peek != ':') return fail()
    c.pos += 1
    val mi = parseIntUpTo(c, 2)
    if (mi < 0 || mi > 59 || c.peek != ':') return fail()
    c.pos += 1
    val s = parseIntUpTo(c, 2)
    if (s < 0 || s > 60) return fail()
    var micros = 0
    if (c.peek == '.' || c.peek == ',') {
      c.pos += 1
      var scale = 100000
      var digits = 0
      while (!c.atEnd && c.peek >= '0' && c.peek <= '9') {
        if (digits < 6) { micros += (c.peek - '0') * scale; scale /= 10 }
        digits += 1; c.pos += 1
      }
      if (digits == 0) return fail()
    }
    var tzOff = 0
    c.peek match {
      case 'Z' | 'z' => c.pos += 1
      case '+' | '-' =>
        val sign = if (c.peek == '-') -1 else 1
        c.pos += 1
        val th = parseIntUpTo(c, 2)
        if (th < 0) return fail()
        var tm = 0
        if (c.peek == ':') { c.pos += 1; tm = math.max(parseIntUpTo(c, 2), 0) }
        else { val t = parseIntUpTo(c, 2); if (t > 0) tm = t }
        tzOff = sign * (th * 3600 + tm * 60)
      case _ => // no tz: treat as UTC (caller-level default zone)
    }
    toMicros(y, mo, d, h, mi, s, micros, tzOff)
  }

  /** Four digits followed by space/end → a year token (the reference's
    * Cisco/linksys year heuristics, `syslog-format.c:245-290`). Returns
    * -1 and restores the cursor otherwise. */
  private def tryYear(c: Cursor): Int = {
    val save = c.pos
    val y = parseIntUpTo(c, 4)
    if (y >= 1000 && c.pos - save == 4 && (c.atEnd || c.peek == ' ')) y
    else { c.pos = save; -1 }
  }

  /** BSD timestamp `MMM [ d|dd] HH:MM:SS` with the reference's extended
    * forms: Cisco year-before-time (`Apr 15 2007 21:28:13`), linksys
    * year-after-time (`Apr 15 21:28:13 2007`), fractional seconds
    * (`02:00:00.156789`). Year inferred from refYear when absent; with a
    * reference month (`refMon` 1-12), the December/January adjacency
    * heuristic of `wallclocktime.c determine_year_for_month` applies —
    * a Dec stamp parsed in Jan is LAST year, a Jan stamp parsed in Dec
    * is NEXT year (test_scan-timestamp.c year_in_the_past/future).
    * Returns epoch micros or Long.MinValue (cursor restored on failure). */
  def parseBsdTimestamp(c: Cursor, refYear: Int, refMon: Int = -1): Long = {
    val start = c.pos
    def fail(): Long = { c.pos = start; Long.MinValue }
    if (c.pos + 3 > c.len) return fail()
    val mon = months.getOrElse(c.s.substring(c.pos, c.pos + 3), -1)
    if (mon < 0) return fail()
    c.pos += 3
    if (c.peek != ' ') return fail()
    c.skipSpaces()
    val d = parseIntUpTo(c, 2)
    if (d < 1 || d > 31 || c.peek != ' ') return fail()
    c.pos += 1
    // Cisco: year between day and time
    var year = tryYear(c)
    if (year > 0 && c.peek == ' ') c.pos += 1
    val h = parseIntUpTo(c, 2)
    if (h < 0 || h > 23 || c.peek != ':') return fail()
    c.pos += 1
    val mi = parseIntUpTo(c, 2)
    if (mi < 0 || mi > 59 || c.peek != ':') return fail()
    c.pos += 1
    val s = parseIntUpTo(c, 2)
    if (s < 0 || s > 60) return fail()
    var micros = 0
    if (c.peek == '.') {
      c.pos += 1
      var scale = 100000
      while (!c.atEnd && c.peek >= '0' && c.peek <= '9') {
        if (scale > 0) { micros += (c.peek - '0') * scale; scale /= 10 }
        c.pos += 1
      }
    }
    // linksys: year after the time
    if (year < 0 && c.peek == ' ') {
      val save = c.pos
      c.pos += 1
      year = tryYear(c)
      if (year < 0) c.pos = save
    }
    if (year < 0)
      year =
        if (mon == 12 && refMon == 1) refYear - 1
        else if (mon == 1 && refMon == 12) refYear + 1
        else refYear
    toMicros(year, mon, d, h, mi, s, micros, 0)
  }

  // ---- RFC5424 -----------------------------------------------------------
  /** Reads a RFC5424 header token (up to space), NILVALUE `-` -> null. */
  private def token(c: Cursor): String = {
    val start = c.pos
    while (!c.atEnd && c.peek != ' ') c.pos += 1
    val t = c.s.substring(start, c.pos)
    if (!c.atEnd) c.pos += 1 // consume single separating space
    if (t == "-") null else t
  }

  /** `log_msg_parse_column` (syslog-format.c:161-188): token up to the
    * next space, NILVALUE `-` → null, longer than `max` → TRUNCATED to
    * `max` chars (the RFC5424 field caps: app 48, procid 128, msgid 32). */
  private def parseColumn(c: Cursor, max: Int): String = {
    val start = c.pos
    while (!c.atEnd && c.peek != ' ') c.pos += 1
    val n = c.pos - start
    if (n == 1 && c.s.charAt(start) == '-') null
    else c.s.substring(start, math.min(start + max, c.pos))
  }

  /** Parses `[id k="v" ...]...` into flattened `id.k` pairs.
    * Reference flattens to `.SDATA.id.k` (`syslog-format.c:518-`); we keep
    * `id.k` and let the egress prefix. Returns false on malformed SD
    * (lenient mode: caller degrades gracefully). */
  def parseSdata(c: Cursor, keys: java.util.ArrayList[String],
      vals: java.util.ArrayList[String]): Boolean = {
    while (c.peek == '[') {
      c.pos += 1
      val idStart = c.pos
      while (!c.atEnd && c.peek != ' ' && c.peek != ']') c.pos += 1
      val id = c.s.substring(idStart, c.pos)
      // paramless SD element `[id]` is valid (syslog-format.c:597-600:
      // the bare SD-ID registers with an empty value)
      if (c.peek == ']' && id.nonEmpty) { keys.add(id); vals.add("") }
      while (c.peek == ' ') {
        c.skipSpaces()
        if (c.peek == ']') return false
        val kStart = c.pos
        while (!c.atEnd && c.peek != '=') c.pos += 1
        if (c.atEnd) return false
        val k = c.s.substring(kStart, c.pos)
        c.pos += 1 // '='
        if (c.peek != '"') return false
        c.pos += 1
        val sb = new java.lang.StringBuilder()
        while (!c.atEnd && c.peek != '"') {
          if (c.peek == '\\' && c.pos + 1 < c.len) {
            val n = c.s.charAt(c.pos + 1)
            if (n == '"' || n == '\\' || n == ']') { sb.append(n); c.pos += 2 }
            else { sb.append('\\'); c.pos += 1 }
          } else { sb.append(c.peek); c.pos += 1 }
        }
        if (c.atEnd) return false
        c.pos += 1 // closing quote
        keys.add(id + "." + k)
        vals.add(sb.toString)
      }
      if (c.peek != ']') return false
      c.pos += 1
    }
    true
  }

  /** Strict RFC5424 SD parser (`log_msg_parse_sd`, syslog-format.c:
    * 518-727): SD-ID capped at 248 chars (256-byte buffer minus the
    * `.SDATA.` prefix), param names at 255-len(id), values TRUNCATED at
    * `valueMax` (sdata-param-value-max, default 255); an unescaped `]`
    * inside a value is an error; `\"` `\\` `\]` unescape and any other
    * escape keeps its backslash; `[id]` with no params registers the
    * bare id with an empty value. On error returns false with the
    * cursor AT the reference's problem position. */
  private def parseSdStrict(c: Cursor, keys: java.util.ArrayList[String],
      vals: java.util.ArrayList[String], valueMax: Int): Boolean = {
    def asciiOk(ch: Char): Boolean =
      ch < 128 && ch != '=' && ch != ' ' && ch != ']' && ch != '"'
    if (!c.atEnd && c.peek == '-') { c.pos += 1; return true }
    if (c.atEnd || c.peek != '[') return true
    c.pos += 1
    var open = 1
    var cont = true
    while (cont) {
      if (c.atEnd || !asciiOk(c.peek)) return false
      // SD-ID
      val idStart = c.pos
      var n = 0
      while (!c.atEnd && c.peek != ' ' && c.peek != ']') {
        if (n >= 248 || !asciiOk(c.peek)) return false
        n += 1; c.pos += 1
      }
      if (n == 0) return false
      val id = c.s.substring(idStart, c.pos)
      if (c.peek == ']') { keys.add(id); vals.add("") }
      // SD-PARAMs
      while (!c.atEnd && c.peek != ']') {
        if (c.peek == ' ') c.pos += 1 else return false
        if (c.atEnd || !asciiOk(c.peek)) return false
        val nStart = c.pos
        var np = 0
        while (!c.atEnd && c.peek != '=') {
          if (np >= 255 - id.length || !asciiOk(c.peek)) return false
          np += 1; c.pos += 1
        }
        val name = c.s.substring(nStart, c.pos)
        if (!c.atEnd && c.peek == '=') c.pos += 1 else return false
        if (!c.atEnd && c.peek == '"') c.pos += 1 else return false
        val sb = new java.lang.StringBuilder()
        var quote = false
        while (!c.atEnd && (c.peek != '"' || quote)) {
          val ch = c.peek
          if (!quote && ch == '\\') quote = true
          else {
            if (quote && ch != '"' && ch != ']' && ch != '\\' &&
                sb.length < valueMax) sb.append('\\')
            else if (!quote && ch == ']') { c.pos += 1; return false }
            if (sb.length < valueMax) sb.append(ch)
            quote = false
          }
          c.pos += 1
        }
        if (!c.atEnd && c.peek == '"') c.pos += 1 else return false
        keys.add(id + "." + name)
        vals.add(sb.toString)
      }
      if (!c.atEnd && c.peek == ']') { c.pos += 1; open -= 1 } else return false
      if (!c.atEnd && c.peek == '[') { c.pos += 1; open += 1 }
      cont = !c.atEnd && open != 0
      if (open == 0) cont = false
    }
    true
  }

  // ---- hostname / program ------------------------------------------------
  /** Valid hostname chars under check-hostname
    * (`_init_parse_hostname_invalid_chars`, syslog-format.c:368-390). */
  private def validHostChar(ch: Char): Boolean =
    (ch >= 'A' && ch <= 'Z') || (ch >= 'a' && ch <= 'z') ||
    (ch >= '0' && ch <= '9') || ch == '-' || ch == '_' || ch == '.' ||
    ch == ':' || ch == '@' || ch == '/'

  private def isHexDigit(ch: Char): Boolean =
    (ch >= '0' && ch <= '9') || (ch >= 'a' && ch <= 'f') ||
    (ch >= 'A' && ch <= 'F')

  /** `log_msg_parse_hostname` (syslog-format.c:440-495): the scan stops
    * at a space, a `[`, a `:` that breaks the IPv6 shape (≤4 hex digits
    * per segment, <8 segments), an invalid char under check-hostname, or
    * the 255-char buffer cap; the token IS a hostname only when the scan
    * stopped at a space and the bad-hostname regex does not match.
    * Returns null (cursor restored) otherwise. */
  private def parseHostname(c: Cursor, checkHostname: Boolean,
      badHostname: java.util.regex.Pattern): String = {
    val start = c.pos
    var segDigits = 0
    var segs = 0
    var ipv6ok = true
    var dst = 0
    var stop = false
    while (!stop && !c.atEnd && c.peek != ' ' && c.peek != '[' && dst < 255) {
      val ch = c.peek
      if (ipv6ok) {
        if (ch != ':' && !isHexDigit(ch)) ipv6ok = false
        else if (ch != ':') { segDigits += 1; if (segDigits > 4) ipv6ok = false }
        else { segDigits = 0; segs += 1; if (segs >= 8) ipv6ok = false }
      }
      if (ch == ':' && !ipv6ok) stop = true
      else if (checkHostname && !validHostChar(ch)) stop = true
      else { dst += 1; c.pos += 1 }
    }
    val tok = c.s.substring(start, c.pos)
    if (!c.atEnd && c.peek == ' ' &&
        (badHostname == null || !badHostname.matcher(tok).find())) tok
    else { c.pos = start; null }
  }

  /** `log_msg_parse_legacy_program_name` (syslog-format.c:319-363):
    * PROGRAM = chars up to space/`[`/`:` (unbounded); optional `[pid]`
    * (pid scan stops at space/`]`/`:`); then ONE `:` and ONE space are
    * consumed. Returns (program, pid); empty strings map to null. */
  private def parseLegacyProgram(c: Cursor): (String, String) = {
    val start = c.pos
    while (!c.atEnd && c.peek != ' ' && c.peek != '[' && c.peek != ':') c.pos += 1
    val prog = c.s.substring(start, c.pos)
    var pid: String = null
    if (c.peek == '[') {
      val pidStart = c.pos + 1
      c.pos += 1
      while (!c.atEnd && c.peek != ' ' && c.peek != ']' && c.peek != ':') c.pos += 1
      if (!c.atEnd) pid = c.s.substring(pidStart, c.pos)
      if (c.peek == ']') c.pos += 1
    }
    if (c.peek == ':') c.pos += 1
    if (c.peek == ' ') c.pos += 1
    (if (prog.isEmpty) null else prog, if (pid != null && pid.isEmpty) null else pid)
  }

  /** `log_msg_parse_cisco_sequence_id` (syslog-format.c:192-217):
    * digits + `:` + a following space → the sequence id is consumed and
    * stored as `.SDATA.meta.sequenceId`. Cursor restored otherwise. */
  private def parseCiscoSeqId(c: Cursor): String = {
    val start = c.pos
    while (!c.atEnd && c.peek != ':') {
      if (c.peek < '0' || c.peek > '9') { c.pos = start; return null }
      c.pos += 1
    }
    if (c.atEnd) { c.pos = start; return null }
    c.pos += 1 // ':'
    if (c.atEnd || c.peek != ' ') { c.pos = start; return null }
    c.s.substring(start, c.pos - 1)
  }

  // ---- parsed result -----------------------------------------------------
  final case class Parsed(
      pri: Int, version: Int, tsMicros: Long, host: String, program: String,
      pid: String, msgid: String, sdataKeys: Array[String],
      sdataVals: Array[String], message: String)

  /** `syslog_format_handler` strips ALL trailing newlines and NULs
    * before parsing (syslog-format.c:996-998). */
  private def stripTrailing(line: String): String = {
    var e = line.length
    while (e > 0 && (line.charAt(e - 1) == '\n' || line.charAt(e - 1) == '\u0000')) e -= 1
    if (e == line.length) line else line.substring(0, e)
  }

  /** Parse-error injection (`msg_format_inject_parse_error`,
    * lib/msg-format.c:41-64): MESSAGE = "Error processing log message: "
    * + the input with a `>@<` marker before the char at `pos-1`
    * (no marker when pos == 0), HOST cleared, PROGRAM "syslog-ng",
    * pri 43 (syslog.err), STAMP = RECVD (unset here). The reference also
    * sets PID to its process id — meaningless for a distributed engine,
    * left null. */
  private def injectError(line: String, pos: Int): Parsed = {
    val body =
      if (pos > 0) line.substring(0, pos - 1) + ">@<" + line.substring(pos - 1)
      else line
    Parsed(43, 0, Long.MinValue, "", "syslog-ng", null, null, null, null,
      "Error processing log message: " + body)
  }

  /** Main entry: parse one raw line. Never throws; unparsable parts
    * degrade exactly like the reference (whole line becomes MESSAGE,
    * pri defaults to 13). */
  def parse(line: String, refYear: Int): Parsed =
    parse(line, refYear, noParse = false, expectHostname = false,
      noHostname = false, noParseDate = false)

  def parse(line: String, refYear: Int, refMon: Int): Parsed =
    parse(line, refYear, noParse = false, expectHostname = false,
      noHostname = false, noParseDate = false, refMon = refMon)

  /** flags() form (`lib/msg-format.h:37-60`, dispatch `msg-format.c:113`):
    *  - no-parse (LP_NOPARSE): the entire line becomes MESSAGE, nothing
    *    else is extracted (pri stays the default);
    *  - expect-hostname (LP_EXPECT_HOSTNAME): in the reference the
    *    legacy hostname is parsed ONLY under this flag; the engine's
    *    default mode parses it too (the common network-source
    *    deployment), so the two are equivalent here — no-hostname
    *    (reference flags=0) suppresses it;
    *  - no-parse-date (LP_NO_PARSE_DATE): header parses normally but the
    *    stamp is left unset (STAMP=RECVD downstream);
    *  - syslog-protocol (LP_SYSLOG_PROTOCOL): strict RFC5424 with field
    *    caps and parse-error injection (syslog-format.c:883-);
    *  - check-hostname (LP_CHECK_HOSTNAME): hostname charset validation;
    *  - no-header (LP_NO_HEADER): PRI only, the rest is MESSAGE;
    *  - assume-utf8 / validate-utf8 / sanitize-utf8 are no-ops here: the
    *    engine's strings are already decoded/valid UTF-8 at ingest. */
  def parse(line: String, refYear: Int, noParse: Boolean,
      expectHostname: Boolean, noHostname: Boolean,
      noParseDate: Boolean, refMon: Int = -1,
      badHostname: java.util.regex.Pattern = null,
      syslogProtocol: Boolean = false, checkHostname: Boolean = false,
      noHeader: Boolean = false, local: Boolean = false): Parsed = {
    if (noParse)
      return Parsed(DefaultPri, 0, Long.MinValue, null, null, null, null,
        null, null, stripTrailing(line))
    val stripped = stripTrailing(line)
    val p =
      if (syslogProtocol)
        parseSyslogProto(stripped, refYear, refMon, checkHostname, noHostname,
          badHostname, noHeader, noParseDate)
      else
        parseLenient(stripped, refYear, noHostname, refMon, badHostname,
          checkHostname, noHeader, local, noParseDate)
    if (noParseDate && p.tsMicros != Long.MinValue) p.copy(tsMicros = Long.MinValue)
    else p
  }

  /** Strict RFC5424 (`log_msg_parse_syslog_proto`, syslog-format.c:
    * 883-986): PRI + VERSION(=1) or fall back to the legacy parser;
    * then each header field is space-separated with exact caps
    * (host 255 via the hostname scan, app 48, procid 128, msgid 32),
    * strict SD, optional BOM-prefixed message. Any violation becomes
    * the reference's error injection with the exact problem position. */
  private def parseSyslogProto(line: String, refYear: Int, refMon: Int,
      checkHostname: Boolean, noHostname: Boolean,
      badHostname: java.util.regex.Pattern, noHeader: Boolean,
      noParseDate: Boolean = false): Parsed = {
    val c = new Cursor(line)
    // PRI (log_msg_parse_pri): '<' digits '>'; a non-digit aborts to the
    // legacy parser, which (in strict mode) error-injects at position 0
    var pri = DefaultPri
    if (c.peek == '<') {
      c.pos += 1
      var v = 0
      while (!c.atEnd && c.peek != '>') {
        if (c.peek < '0' || c.peek > '9') return injectError(line, 0)
        v = v * 10 + (c.peek - '0'); c.pos += 1
      }
      pri = v
      if (!c.atEnd) c.pos += 1
    }
    // VERSION: digits to the next space, must equal 1; otherwise the
    // whole line re-parses as legacy (syslog-format.c:907-910)
    val vStart = c.pos
    var ver = 0
    var verOk = c.pos < c.len
    while (verOk && !c.atEnd && c.peek != ' ') {
      if (c.peek >= '0' && c.peek <= '9') { ver = ver * 10 + (c.peek - '0'); c.pos += 1 }
      else verOk = false
    }
    if (!verOk || ver != 1 || vStart == c.pos)
      return parseLegacyStrict(line, refYear, refMon, checkHostname,
        noHostname, badHostname, noHeader, noParseDate)
    if (!c.skipOneSpace()) return injectError(line, c.pos)
    // TIMESTAMP: NILVALUE '-' → receive time (unset here)
    var ts = Long.MinValue
    if (c.peek == '-') c.pos += 1
    else {
      val t = parseIsoTimestamp(c)
      if (t == Long.MinValue) return injectError(line, c.pos)
      ts = t
    }
    if (!c.skipOneSpace()) return injectError(line, c.pos)
    // HOSTNAME (255 cap; not-followed-by-space → error one past the start,
    // matching the reference's `src++; goto error`)
    val host0 = parseHostname(c, checkHostname, null)
    if (!c.skipOneSpace()) return injectError(line, c.pos + 1)
    val host = if (host0 == null || host0 == "-") null else host0
    val app = parseColumn(c, 48)
    if (!c.skipOneSpace()) return injectError(line, c.pos)
    val procid = parseColumn(c, 128)
    if (!c.skipOneSpace()) return injectError(line, c.pos)
    val msgid = parseColumn(c, 32)
    if (!c.skipOneSpace()) return injectError(line, c.pos)
    val keys = new java.util.ArrayList[String]()
    val vals = new java.util.ArrayList[String]()
    if (!parseSdStrict(c, keys, vals, valueMax = 255))
      return injectError(line, c.pos)
    var msg = ""
    if (!c.atEnd) {
      if (!c.skipOneSpace()) return injectError(line, c.pos)
      msg = c.s.substring(c.pos)
      if (msg.startsWith("﻿")) msg = msg.substring(1)
    }
    val sdK = if (keys.isEmpty) null else keys.toArray(new Array[String](keys.size))
    val sdV = if (vals.isEmpty) null else vals.toArray(new Array[String](vals.size))
    Parsed(pri, 1, ts, host, app, procid, msgid, sdK, sdV, msg)
  }

  /** Legacy parse in strict mode (`log_msg_parse_legacy` reached from
    * the syslog-protocol fallback): identical to the lenient legacy
    * parse except a malformed PRI error-injects (position 0 — the
    * reference's parse_pri leaves the committed pointer at the start). */
  private def parseLegacyStrict(line: String, refYear: Int, refMon: Int,
      checkHostname: Boolean, noHostname: Boolean,
      badHostname: java.util.regex.Pattern, noHeader: Boolean,
      noParseDate: Boolean = false): Parsed = {
    if (line.startsWith("<")) {
      var i = 1
      while (i < line.length && line.charAt(i) != '>') {
        if (line.charAt(i) < '0' || line.charAt(i) > '9')
          return injectError(line, 0)
        i += 1
      }
    }
    parseLegacyFrom(line, refYear, noHostname, refMon, badHostname,
      checkHostname, noHeader, autodetect5424 = false, local = false,
      noParseDate = noParseDate)
  }

  /** Lenient engine default: auto-detects RFC5424 by `1 ` after the PRI
    * (the reference dispatches by source type instead — syslog() vs
    * network(); auto-detection is the engine's documented superset) and
    * degrades gracefully instead of error-injecting. */
  private def parseLenient(line: String, refYear: Int, noHostname: Boolean,
      refMon: Int, badHostname: java.util.regex.Pattern,
      checkHostname: Boolean, noHeader: Boolean, local: Boolean,
      noParseDate: Boolean = false): Parsed =
    parseLegacyFrom(line, refYear, noHostname, refMon, badHostname,
      checkHostname, noHeader, autodetect5424 = true, local = local,
      noParseDate = noParseDate)

  private def parseLegacyFrom(line: String, refYear: Int, noHostname: Boolean,
      refMon: Int, badHostname: java.util.regex.Pattern,
      checkHostname: Boolean, noHeader: Boolean,
      autodetect5424: Boolean, local: Boolean,
      noParseDate: Boolean = false): Parsed = {
    val c = new Cursor(line)
    var pri = DefaultPri
    // <PRI>
    if (c.peek == '<') {
      val save = c.pos
      c.pos += 1
      val v = parseIntUpTo(c, 3)
      if (v >= 0 && c.peek == '>') { pri = v; c.pos += 1 }
      else c.pos = save
    }
    if (noHeader)
      return Parsed(pri, 0, Long.MinValue, null, null, null, null, null, null,
        if (c.atEnd) "" else c.s.substring(c.pos))
    // RFC5424 auto-detect: VERSION SP (lenient mode only)
    if (autodetect5424 && c.peek == '1' && c.pos + 1 < c.len &&
        c.s.charAt(c.pos + 1) == ' ') {
      val save = c.pos
      c.pos += 2
      val ts = if (c.peek == '-') { c.pos += 2; Long.MinValue }
               else { val t = parseIsoTimestamp(c); if (!c.atEnd) c.pos += 1; t }
      val nilTs = save + 2 < c.len && c.s.charAt(save + 2) == '-'
      if (ts != Long.MinValue || nilTs) {
        val host = token(c)
        val app = token(c)
        val procid = token(c)
        val msgid = token(c)
        var sdK: Array[String] = null
        var sdV: Array[String] = null
        if (c.peek == '-') { c.pos += 1 }
        else if (c.peek == '[') {
          val keys = new java.util.ArrayList[String]()
          val vals = new java.util.ArrayList[String]()
          if (parseSdata(c, keys, vals)) {
            sdK = keys.toArray(new Array[String](keys.size))
            sdV = vals.toArray(new Array[String](vals.size))
          }
        }
        if (c.peek == ' ') c.pos += 1
        var msg = if (c.atEnd) "" else c.s.substring(c.pos)
        if (msg.startsWith("﻿")) msg = msg.substring(1)
        return Parsed(pri, 1, ts, host, app, procid, msgid, sdK, sdV, msg)
      }
      c.pos = save
    }
    // ---- RFC3164 legacy header (log_msg_parse_legacy_header, :732) ----
    val sdKeys = new java.util.ArrayList[String]()
    val sdVals = new java.util.ArrayList[String]()
    val seqId = parseCiscoSeqId(c)
    if (seqId != null) { sdKeys.add("meta.sequenceId"); sdVals.add(seqId) }
    c.skipSpaces()
    // Cisco clock-sync attributes: '*' = unsynced, '.' = synced
    // (syslog-format.c:221-240 → .SDATA.timeQuality.isSynced). Under
    // LP_NO_PARSE_DATE the reference still CONSUMES the char but skips
    // the SDATA set (:228-238 guard).
    if (c.peek == '*' && !c.atEnd) {
      if (!noParseDate) { sdKeys.add("timeQuality.isSynced"); sdVals.add("0") }
      c.pos += 1
    } else if (c.peek == '.' && !c.atEnd) {
      if (!noParseDate) { sdKeys.add("timeQuality.isSynced"); sdVals.add("1") }
      c.pos += 1
    }
    val afterAttrs = c.pos
    var ts = parseBsdTimestamp(c, refYear, refMon)
    if (ts == Long.MinValue) ts = parseIsoTimestamp(c)
    var host: String = null
    var program: String = null
    var pid: String = null
    var msg: String = null
    if (ts != Long.MinValue) {
      // Cisco form carries a trailing ':' after the timestamp
      if (c.peek == ':') c.pos += 1
      c.skipSpaces()
      // AIX forwarded message: hostname up to ':' (syslog-format.c:754)
      if (c.s.startsWith("Message forwarded from ", c.pos)) {
        c.pos += "Message forwarded from ".length
        val hs = c.pos
        while (!c.atEnd && c.peek != ':') c.pos += 1
        host = c.s.substring(hs, c.pos)
        while (!c.atEnd && (c.peek == ':' || c.peek == ' ')) c.pos += 1
      }
      if (c.s.startsWith("last message repeated", c.pos) &&
          c.len - c.pos > "last message repeated".length) {
        // no hostname or program follows (syslog-format.c:765-769)
      } else {
        if (host == null && !noHostname) {
          host = parseHostname(c, checkHostname, badHostname)
          if (host != null) c.skipSpaces()
        }
        val pp = parseLegacyProgram(c)
        program = pp._1; pid = pp._2
      }
      msg = if (c.atEnd) "" else c.s.substring(c.pos)
    } else {
      // no timestamp: "program[pid] message" (syslog-format.c:794-808);
      // a LOCAL source's kern-facility line keeps its message whole and
      // the program becomes "kernel" (:800-803 — LP_LOCAL + LOG_KERN)
      c.pos = afterAttrs
      if (local && pri / 8 == 0) program = "kernel"
      else {
        val pp = parseLegacyProgram(c)
        program = pp._1; pid = pp._2
      }
      msg = if (c.atEnd) "" else c.s.substring(c.pos)
    }
    val sdK = if (sdKeys.isEmpty) null else sdKeys.toArray(new Array[String](sdKeys.size))
    val sdV = if (sdVals.isEmpty) null else sdVals.toArray(new Array[String](sdVals.size))
    Parsed(pri, 0, ts, host, program, pid, msgid = null,
      sdataKeys = sdK, sdataVals = sdV, message = msg)
  }

  /** Codegen entry point: returns the struct as an InternalRow. */
  def parseRow(line: UTF8String, refYear: Int): InternalRow =
    parseRow(line, refYear, noParse = false, expectHostname = false,
      noHostname = false, noParseDate = false)

  def parseRow(line: UTF8String, refYear: Int, noParse: Boolean,
      expectHostname: Boolean, noHostname: Boolean,
      noParseDate: Boolean): InternalRow =
    parseRow(line, refYear, noParse, expectHostname, noHostname,
      noParseDate, -1)

  def parseRow(line: UTF8String, refYear: Int, noParse: Boolean,
      expectHostname: Boolean, noHostname: Boolean,
      noParseDate: Boolean, refMon: Int): InternalRow =
    parseRow(line, refYear, noParse, expectHostname, noHostname,
      noParseDate, refMon, null)

  def parseRow(line: UTF8String, refYear: Int, noParse: Boolean,
      expectHostname: Boolean, noHostname: Boolean,
      noParseDate: Boolean, refMon: Int,
      badHostname: java.util.regex.Pattern): InternalRow =
    parseRow(line, refYear, noParse, expectHostname, noHostname, noParseDate,
      refMon, badHostname, syslogProtocol = false, checkHostname = false,
      noHeader = false)

  def parseRow(line: UTF8String, refYear: Int, noParse: Boolean,
      expectHostname: Boolean, noHostname: Boolean,
      noParseDate: Boolean, refMon: Int,
      badHostname: java.util.regex.Pattern,
      syslogProtocol: Boolean, checkHostname: Boolean,
      noHeader: Boolean): InternalRow =
    parseRow(line, refYear, noParse, expectHostname, noHostname, noParseDate,
      refMon, badHostname, syslogProtocol, checkHostname, noHeader,
      local = false)

  def parseRow(line: UTF8String, refYear: Int, noParse: Boolean,
      expectHostname: Boolean, noHostname: Boolean,
      noParseDate: Boolean, refMon: Int,
      badHostname: java.util.regex.Pattern,
      syslogProtocol: Boolean, checkHostname: Boolean,
      noHeader: Boolean, local: Boolean): InternalRow = {
    val p = parse(line.toString, refYear, noParse, expectHostname,
      noHostname, noParseDate, refMon, badHostname, syslogProtocol,
      checkHostname, noHeader, local)
    val r = new GenericInternalRow(11)
    r.setInt(0, p.pri)
    r.setInt(1, p.pri / 8)
    r.setInt(2, p.pri % 8)
    r.setInt(3, p.version)
    if (p.tsMicros == Long.MinValue) r.setNullAt(4) else r.setLong(4, p.tsMicros)
    r.update(5, UTF8String.fromString(p.host))
    r.update(6, UTF8String.fromString(p.program))
    r.update(7, UTF8String.fromString(p.pid))
    r.update(8, UTF8String.fromString(p.msgid))
    if (p.sdataKeys == null) r.setNullAt(9)
    else r.update(9, ArrayBasedMapData(p.sdataKeys.map(UTF8String.fromString),
      p.sdataVals.map(UTF8String.fromString)))
    r.update(10, UTF8String.fromString(p.message))
    r
  }
}
