package graft.operators

import graft.model.SyslogNames
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Filter algebra — Column builders mirroring the reference's filter
  * expressions (`/root/reference/lib/filter/`).
  *
  * Everything compiles to plain Catalyst predicates so pushdown, boolean
  * simplification and short-circuit codegen apply (the reference
  * interprets a FilterExprNode tree per message, `lib/filter/
  * filter-expr.h:36-47`; here Catalyst owns evaluation).
  */
object Filters {

  /** `facility(f1, f2, ...)` — `lib/filter/filter-pri.c`. Accepts names or
    * numeric codes. */
  def facility(names: String*): Column =
    col("facility").isin(names.map(n =>
      SyslogNames.facilityToCode.getOrElse(n, n.toInt)): _*)

  /** `severity(name)` / `level(name)` — single severity. */
  def severity(names: String*): Column =
    col("severity").isin(names.map(n =>
      SyslogNames.severityToCode.getOrElse(n, n.toInt)): _*)

  /** `severity(from..to)` range, inclusive, e.g. emerg..err. Order-
    * insensitive: the conventional spelling `crit..emerg` names the
    * UPPER severity first (numerically smaller code), so both endpoint
    * orders must denote the same set. */
  def severityRange(from: String, to: String): Column = {
    val a = SyslogNames.severityToCode(from)
    val b = SyslogNames.severityToCode(to)
    col("severity") >= math.min(a, b) && col("severity") <= math.max(a, b)
  }

  /** `host("regex")` / `program()` / `message()` — `lib/filter/filter-re.c`. */
  def host(re: String): Column = col("host").rlike(re)
  def program(re: String): Column = col("program").rlike(re)
  def message(re: String): Column = col("message").rlike(re)

  /** `match(re value(field))` — regex match on any expression. */
  def matches(re: String, value: Column): Column = value.rlike(re)

  /** The default `match()` target when no value()/template() is given:
    * the legacy `$MSGHDR$MSG` surface (`lib/filter/filter-re.c`
    * filter_match_new falls back to LM_V_LEGACY_MSGHDR + message —
    * `match("^openvpn\\[2499\\]: PTHREAD")` hits,
    * test_filters_regexp.c:292). */
  def matchDefaultTarget(df: DataFrame): Column = {
    def c(n: String) =
      if (df.columns.contains(n)) col(n) else lit(null).cast("string")
    concat(
      coalesce(c("program"), lit("")),
      when(c("pid").isNotNull, concat(lit("["), c("pid"), lit("]")))
        .otherwise(lit("")),
      when(c("program").isNotNull, lit(": ")).otherwise(lit("")),
      coalesce(col("message"), lit("")))
  }

  /** `match(... flags(store-matches [dupnames]))` — the PCRE
    * match-and-store engine (`lib/logmatcher.c`): the verdict lands in
    * `matched`, numbered registers in `matches` ($0..$N with pcre's
    * trailing-unset truncation), named groups merge into `values` by
    * name (last participating instance wins under dupnames). Rows that
    * do not match keep their registers untouched. */
  def matchStore(df: DataFrame, re: String, value: Column,
      dupnames: Boolean = false): DataFrame = {
    val staged = df.withColumn("__match",
      graft.functions.RegexMatchStore(value, re, dupnames))
    val hit = col("__match.matched")
    val prevMatches =
      if (df.columns.contains("matches")) col("matches")
      else lit(null).cast("array<string>")
    val prevValues =
      if (df.columns.contains("values")) col("values")
      else map().cast("map<string,string>")
    val named = coalesce(col("__match.named"), map().cast("map<string,string>"))
    staged
      .withColumn("matches", when(hit, col("__match.groups")).otherwise(prevMatches))
      .withColumn("values", when(hit,
        map_concat(
          map_filter(prevValues, (k, _) => !array_contains(map_keys(named), k)),
          named)).otherwise(prevValues))
      .withColumn("matched", hit)
      .drop("__match")
  }

  /** `type(string)` matcher with the full flag surface
    * (`lib/logmatcher.c` log_matcher_string_match_string): exact
    * equality by default, `flags(prefix)` / `flags(substring)` /
    * `flags(ignore-case)`; a pattern longer than the value never
    * matches (pattern_len > value_len guard). */
  def matchesString(pattern: String, value: Column,
      prefix: Boolean = false, substring: Boolean = false,
      icase: Boolean = false): Column = {
    def ci(c: Column): Column = if (icase) lower(c) else c
    val pat = if (icase) pattern.toLowerCase else pattern
    if (prefix) ci(value).startsWith(lit(pat))
    else if (substring) ci(value).contains(lit(pat))
    else ci(value) === lit(pat)
  }

  /** Glob matcher backend (`lib/logmatcher.h` "glob"): `*`/`?` translated
    * to SQL LIKE (escaping LIKE metachars). GPattern only works on UTF-8
    * — the reference's glob match returns FALSE outright on invalid
    * input (`log_matcher_glob_match`, test_matcher.c iso88592_never). */
  def matchesGlob(pattern: String, value: Column): Column = {
    val likePat = pattern
      .replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")
      .replace('*', '%').replace('?', '_')
    value.like(likePat) && is_valid_utf8(value)
  }

  /** `netmask("a.b.c.d/len")` CIDR containment — `lib/filter/
    * filter-netmask.c`. `ip` is a dotted-quad string column. Shares
    * CidrMatch's lenient compile: malformed patterns never match, a
    * bare address is a host match. */
  def netmask(cidr: String, ip: Column): Column =
    graft.functions.GraftFunctions.cidr_match(cidr, ip)

  /** `tags(t1, t2)` — any-of test on the tags array (`lib/filter/
    * filter-tags.c`). */
  /** netmask6() — CIDR containment for IPv6 (filter-netmask6.c); also
    * accepts IPv4 CIDRs (families never cross-match). */
  def netmask6(cidr: String, ip: Column): Column =
    graft.functions.GraftFunctions.cidr_match(cidr, ip)

  def tags(ts: String*): Column =
    arrays_overlap(col("tags"), array(ts.map(lit): _*))

  /** `in-list("file", value(field))` for a small key list — plain `isin`
    * (broadcast-free). */
  def inList(keys: Seq[String], value: Column): Column =
    value.isin(keys: _*)

  /** `in-list` against a large key table — broadcast left-semi join
    * (`lib/filter/filter-in-list.c` is a hash-set membership; at scale
    * the set ships to executors once). */
  def inListJoin(df: DataFrame, keys: DataFrame, value: Column): DataFrame =
    df.join(broadcast(keys), value === keys.col(keys.columns.head), "left_semi")

  /** The documented `in-list("/path/to/file", value($f))` form
    * (`filter-in-list.c:100`): one key per line, loaded driver-side at
    * compile time (the reference loads at config init). Key files are
    * config-scale; a huge list belongs in `inListJoin`. */
  def inListFile(path: String, value: Column): Column = {
    val keys = scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path)))
      .asScala.toSeq.filter(_.nonEmpty)
    inList(keys, value)
  }

  /** atoi semantics for the numeric comparison family
    * (`filter-cmp.c:46-60`): leading optional-sign integer prefix, 0 when
    * no digits — NOT an ANSI cast (which would null out garbage). */
  def atoi(c: Column): Column = {
    val digits = regexp_extract(c.cast("string"), "^\\s*([+-]?[0-9]+)", 1)
    when(digits === "", lit(0L)).otherwise(digits.cast("long"))
  }

  /** Numeric comparison family (`lib/filter/filter-cmp.c:116-153`,
    * `KW_NUM_*`): cast both sides before comparing. */
  def numCmp(a: Column, op: String, b: Column): Column = {
    val (x, y) = (a.cast("double"), b.cast("double"))
    op match {
      case "==" | "eq" => x === y
      case "!=" | "ne" => x =!= y
      case "<"  | "lt" => x < y
      case ">"  | "gt" => x > y
      case "<=" | "le" => x <= y
      case ">=" | "ge" => x >= y
    }
  }

  /** String comparison family (`filter-cmp.c:46-115`): byte-wise string
    * compare like the reference's strcmp. */
  def strCmp(a: Column, op: String, b: Column): Column = {
    val (x, y) = (a.cast("string"), b.cast("string"))
    op match {
      case "==" | "eq" => x === y
      case "!=" | "ne" => x =!= y
      case "<"  | "lt" => x < y
      case ">"  | "gt" => x > y
      case "<=" | "le" => x <= y
      case ">=" | "ge" => x >= y
    }
  }
}
