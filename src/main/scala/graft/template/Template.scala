package graft.template

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The template language: `$NAME`, `${NAME}`, `${NAME:-default}`,
  * `$(func arg1 arg2 ...)`, `$$` escape, literal text.
  *
  * Mirrors the reference's compiled template representation
  * (`/root/reference/lib/template/repr.h:34-36`: LTE_VALUE | LTE_MACRO |
  * LTE_FUNC, compiler `lib/template/compiler.c`, eval loop
  * `lib/template/eval.c:60-140`). Instead of an eval loop we compile the
  * whole template to ONE Catalyst `Column` (a concat tree), so template
  * evaluation is codegen'd per row with zero interpretation overhead.
  *
  * Missing/unset names render as "" like the reference; `${N:-d}` uses the
  * default when the value is missing OR empty (`eval.c:74-76`).
  */
object Template {
  sealed trait Node
  final case class Lit(text: String) extends Node
  /** `msgRef` is the correlation-context message reference, stored the
    * reference's way (compiler.c:70-96): 0 = none given, N+1 = `@N` —
    * @0 is the LAST context message, @1 the one before it
    * (eval.c:51-62 `msg_ndx = num_messages - msg_ref`). Row-level
    * compiles resolve every ref against the current row; the
    * correlation paths (patterndb Synthetic) bind refs with msgRef > 0
    * to the collected context. */
  final case class Ref(name: String, default: Option[Parsed],
      msgRef: Int = 0) extends Node
  /** `rawArgs` keeps the unquoted argument text — the HOFs ($(map),
    * $(filter), $(iterate), filter-expression $(if)) re-compile it lazily
    * with `$_` bound or through the filter-expr grammar. `msgRef` is the
    * `$(func ...)@N` correlation reference, stored like [[Ref]]'s
    * (compiler.c:62 log_template_elem_new_func takes msg_ref too): the
    * eval loop then passes ONLY that context member to the function
    * (eval.c:97-98 `&messages[msg_ndx], 1`), so the function's argument
    * refs resolve against that single message. Row-level compiles ignore
    * it; the correlation path (patterndb Synthetic) binds it. */
  final case class Func(name: String, args: Seq[Parsed], rawArgs: Seq[String],
      msgRef: Int = 0) extends Node
  final case class Parsed(nodes: Seq[Node])

  // ---- parser ------------------------------------------------------------
  def parse(s: String): Parsed = {
    val nodes = Vector.newBuilder[Node]
    val lit = new StringBuilder
    var i = 0
    def flushLit(): Unit =
      if (lit.nonEmpty) { nodes += Lit(lit.toString); lit.clear() }
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '$' && i + 1 < s.length) {
        val n = s.charAt(i + 1)
        if (n == '$') { lit.append('$'); i += 2 }
        else if (n == '{') {
          flushLit()
          val close = findClose(s, i + 1, '{', '}')
          val inner = s.substring(i + 2, close)
          val (name, dflt) = inner.indexOf(":-") match {
            case -1 => (inner, None)
            case k => (inner.substring(0, k), Some(parse(inner.substring(k + 2))))
          }
          val (ni, mref) = consumeMsgRef(s, close + 1)
          nodes += Ref(name, dflt, mref)
          i = ni
        } else if (n == '(') {
          flushLit()
          val close = findClose(s, i + 1, '(', ')')
          val inner = s.substring(i + 2, close)
          val parts = splitArgs2(inner)
          require(parts.nonEmpty, s"empty template function in: $s")
          val (ni, mref) = consumeMsgRef(s, close + 1)
          nodes += Func(parts.head._1, parts.tail.map(p => parse(p._1)),
            parts.tail.map(_._2), mref)
          i = ni
        } else if (n.isLetterOrDigit || n == '_' || n == '.') {
          flushLit()
          var j = i + 1
          while (j < s.length && (s.charAt(j).isLetterOrDigit ||
            s.charAt(j) == '_' || s.charAt(j) == '.')) j += 1
          // names never end in '.': `$FACILITY.$SEVERITY` ends FACILITY at the dot
          var end = j
          while (end > i + 1 && s.charAt(end - 1) == '.') end -= 1
          val name = s.substring(i + 1, end)
          i = j
          if (end < j) { nodes += Ref(name, None); lit.append(s.substring(end, j)) }
          else {
            val (ni, mref) = consumeMsgRef(s, i)
            nodes += Ref(name, None, mref)
            i = ni
          }
        } else { lit.append(c); i += 1 }
      } else { lit.append(c); i += 1 }
    }
    flushLit()
    Parsed(nodes.result())
  }

  /** `${name}@N` correlation msg-ref (template/compiler.c:70-96
    * parse_msg_ref): `@digits` after a macro/value/function picks a
    * message from the correlation context stack — consumed from the
    * text; `@@` collapses to one literal '@'; `@nondigit` stays
    * literal. Returns (next index, stored msgRef): 0 = none, else the
    * reference's representation (user N + 1) — including its
    * `msg_ref += msg_ref * 10 + digit` accumulation, which for
    * multi-digit refs is NOT base-10 (@12 stores 14, not 13); the
    * quirk is kept verbatim. Row-level compiles ignore the value;
    * the correlation paths resolve msgRef > 0 against the context. */
  private def consumeMsgRef(s: String, i0: Int): (Int, Int) =
    if (i0 >= s.length || s.charAt(i0) != '@') (i0, 0)
    else {
      var i = i0 + 1
      if (i < s.length && s.charAt(i) >= '0' && s.charAt(i) <= '9') {
        var ref = 0
        while (i < s.length && s.charAt(i) >= '0' && s.charAt(i) <= '9') {
          ref += ref * 10 + (s.charAt(i) - '0')
          i += 1
        }
        (i, ref + 1) // msgref consumed
      } else if (i < s.length && s.charAt(i) == '@') (i, 0) // '@@' -> one '@'
      else (i0, 0) // literal '@'
    }

  private def findClose(s: String, open: Int, oc: Char, cc: Char): Int = {
    var depth = 0
    var i = open
    var quote: Char = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) {
        if (c == quote) quote = 0
        else if (c == '\\' && i + 1 < s.length) i += 1
      } else if ((c == '"' || c == '\'') && i > 0 && quoteOpens(s.charAt(i - 1))) {
        // quotes shield parens ($(format-json "i=ifoo(")) — but only
        // quotes in operand position open (after space/(/=), so a
        // literal apostrophe ($(echo it's)) stays literal
        quote = c
      } else if (c == oc) depth += 1
      else if (c == cc) { depth -= 1; if (depth == 0) return i }
      i += 1
    }
    throw new IllegalArgumentException(s"unbalanced $oc$cc in template: $s")
  }

  /** A quote char only OPENS a quoted span right after a delimiter —
    * argument start, whitespace, '(' or '=' — mirroring the reference
    * lexer's token-position quoting. */
  private def quoteOpens(prev: Char): Boolean =
    prev == ' ' || prev == '(' || prev == '='

  /** Split `$(fn a "b c" $(g x))` args on spaces, honoring quotes and
    * nested parens. Returns (stripped, original) per arg: `stripped` has
    * the delimiting quotes removed (still a template); `original` keeps
    * them verbatim so filter-expression arguments can be re-lexed with
    * string operands intact. */
  private[template] def splitArgs2(s: String): Seq[(String, String)] = {
    val out = Vector.newBuilder[(String, String)]
    val cur = new StringBuilder
    val raw = new StringBuilder
    var i = 0
    var depth = 0
    var quote: Char = 0
    def flush(): Unit =
      if (raw.nonEmpty) { out += ((cur.toString, raw.toString)); cur.clear(); raw.clear() }
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) {
        if (c == quote) { quote = 0; raw.append(c) }
        else if (c == '\\' && i + 1 < s.length &&
            (s.charAt(i + 1) == quote || s.charAt(i + 1) == '\\')) {
          // only the active quote char and backslash unescape; other
          // backslash sequences stay verbatim for downstream decoders
          // (the list/kv str-repr layer decodes \t etc. itself)
          cur.append(s.charAt(i + 1)); raw.append(c).append(s.charAt(i + 1)); i += 1
        }
        else { cur.append(c); raw.append(c) }
      } else c match {
        case '"' | '\'' if i == 0 || quoteOpens(s.charAt(i - 1)) =>
          quote = c; raw.append(c)
        case '(' => depth += 1; cur.append(c); raw.append(c)
        case ')' => depth -= 1; cur.append(c); raw.append(c)
        case ' ' if depth == 0 => flush()
        case _ => cur.append(c); raw.append(c)
      }
      i += 1
    }
    flush()
    out.result()
  }

  // ---- compiler ----------------------------------------------------------
  /** Compile to a single string Column. `resolve` maps a macro/field name
    * to its Column (see [[Macros.resolver]]); `templates` is the named
    * template registry $(template NAME) binds against (tf-template.c —
    * the config front end ALSO statically expands `$(template NAME)`
    * at read time, see ConfigCompiler.expandNamedTemplates; this
    * engine-level registry additionally covers the dynamic form). */
  def compile(t: Parsed, resolve: String => Column,
      templates: Map[String, String] = Map.empty,
      escape: Boolean = false): Column = {
    // binds $_ to the HOF lambda element on top of the outer resolver
    // (tf-map.c sets context_id to the current element the same way)
    def bindElem(e: Column): String => Column =
      name => if (name == "_") e else resolve(name)
    // a filter-expression condition argument compiled against `res`.
    // The whole condition may arrive quoted ($(if '"$X" eq "y"' a b) —
    // the reference passes argv[1] to the filter grammar after its own
    // unquoting), so retry with the outer quotes stripped.
    def condCol(raw: String, res: String => Column): Column = {
      def once(text: String): Column =
        graft.config.ConfigCompiler.filterColTemplated(
          graft.config.ConfigParser.parseFilterExpr(text),
          s => compile(parse(s), res))
      val t = raw.trim
      val stripped =
        if (t.length >= 2 && (t.head == '\'' || t.head == '"') && t.last == t.head)
          Some(t.substring(1, t.length - 1))
        else None
      try once(t)
      catch {
        case e: Exception => stripped match {
          case Some(s) => once(s)
          case None => throw e
        }
      }
    }

    def nodeCol(n: Node): Column = n match {
      case Lit(s) => lit(s)
      case Ref(name, None, _) =>
        coalesce(resolve(name).cast("string"), lit(""))
      case Ref(name, Some(d), _) =>
        val v = coalesce(resolve(name).cast("string"), lit(""))
        when(v === "", compile(d, resolve)).otherwise(v)

      // ---- higher-order functions (tf-map.c / tf-filter.c / tf-iterate.c,
      // registered basic-funcs.c:138-140). Comma-lists in and out; the
      // element is $_ inside the template / condition argument.
      // $(template NAME [fallback args...]) — tf-template.c: a literal
      // NAME binds statically (unknown -> compile error, like the
      // reference's "Unknown template function or template"); a
      // computed NAME binds per row against the registry, rendering
      // the space-joined fallback args when no template matches.
      case Func("template", args, _, _) if args.nonEmpty =>
        val nameLit = args.head.nodes match {
          case Seq(Lit(s)) => Some(s)
          case _ => None
        }
        nameLit match {
          case Some(n) if args.size == 1 =>
            val text = templates.getOrElse(n, throw new IllegalArgumentException(
              s"""Unknown template function or template "$n""""))
            compile(parse(text), resolve, templates).cast("string")
          case _ =>
            val nameCol = compile(args.head, resolve, templates).cast("string")
            val fallback =
              if (args.size > 1)
                concat_ws(" ", args.tail.map(a =>
                  compile(a, resolve, templates).cast("string")): _*)
              else lit("")
            templates.foldRight(fallback) { case ((n, text), acc) =>
              when(nameCol === n,
                compile(parse(text), resolve, templates).cast("string"))
                .otherwise(acc)
            }
        }

      case Func("map", args, _, _) =>
        require(args.size == 2, "usage: $(map template list)")
        val listC = compile(args(1), resolve).cast("string")
        val mapped = transform(split(listC, ","),
          e => compile(args(0), bindElem(e)).cast("string"))
        when(listC === "", lit("")).otherwise(array_join(mapped, ","))
      case Func("filter", args, raw, _) =>
        require(args.size == 2, "usage: $(filter condition list)")
        val listC = compile(args(1), resolve).cast("string")
        val kept = filter(split(listC, ","), e => condCol(raw.head, bindElem(e)))
        when(listC === "", lit("")).otherwise(array_join(kept, ","))
      case Func("iterate", args, _, _) if args.size == 2 =>
        // The REFERENCE form (tf-iterate.c:73-92): per-message mutable
        // state — call n appends `current` then steps it through the
        // template with $_ bound, so message n renders f^n(init).
        // Batch mapping: n = the stream's per-message sequence (the
        // __MSG_SEQ__ pseudo-macro, present on sequenced frames like
        // the msg-generator's `seq`); the n-step fold happens per row.
        val init = compile(args(1), resolve).cast("string")
        val n = resolve("__MSG_SEQ__").cast("long")
        // fold with a SCALAR string accumulator — an array accumulator
        // holding all n intermediates is O(n) memory per row (O(N^2)
        // across a sequenced stream) and sequence() caps at Spark's max
        // array length for large n (ADVICE r13)
        val stepped = aggregate(
          sequence(lit(1L), greatest(n, lit(1L))), init,
          (acc, _) => compile(args(0), bindElem(acc)).cast("string"))
        when(n.isNull || n <= 0, init).otherwise(stepped)
      case Func("iterate", args, _, _) =>
        // The reference form is per-message mutable state (tf-iterate.c
        // keeps `current` across invocations) — inherently sequential.
        // The batch reinterpretation: $(iterate template init count)
        // emits the first `count` iterates as a comma-list.
        require(args.size == 3, "usage: $(iterate template init count)")
        val init = compile(args(1), resolve).cast("string")
        val n = compile(args(2), resolve).cast("int")
        val stepped = aggregate(
          sequence(lit(2), greatest(n, lit(2))), array(init),
          (acc, _) => concat(acc,
            array(compile(args(0), bindElem(element_at(acc, -1))).cast("string"))),
          acc => array_join(acc, ","))
        when(n <= 0, lit("")).when(n === 1, init).otherwise(stepped)

      case Func("slog", args, raw, _) =>
        // $(slog -k FILE -m FILE msg) — tf_slog_prepare
        // (secure-logging.c:75-195): -k/--key-file and -m/--mac-file
        // are REQUIRED options; a missing message arg is a compile
        // error; an unreadable/invalid KEY FILE is only a warning and
        // the function reverts to clear-text passthrough. Entries ride
        // [[graft.functions.SlogChainEntry]] (closed-form key
        // evolution per row); the key/MAC file write-backs settle
        // post-materialization (Slog.writeKeyFile/writeMacFile).
        var keyPath: Option[String] = None
        var macPath: Option[String] = None
        val rest = scala.collection.mutable.ArrayBuffer.empty[Int]
        var ai = 0
        while (ai < raw.length) {
          val r = raw(ai)
          if ((r == "-k" || r == "--key-file") && ai + 1 < raw.length) {
            keyPath = Some(raw(ai + 1)); ai += 2
          } else if (r.startsWith("--key-file=")) {
            keyPath = Some(r.substring("--key-file=".length)); ai += 1
          } else if ((r == "-m" || r == "--mac-file") && ai + 1 < raw.length) {
            macPath = Some(raw(ai + 1)); ai += 2
          } else if (r.startsWith("--mac-file=")) {
            macPath = Some(r.substring("--mac-file=".length)); ai += 1
          } else { rest += ai; ai += 1 }
        }
        require(rest.nonEmpty, "[SLOG] ERROR: Template parsing failed. " +
          "Invalid number of arguments. Usage: $(slog --key-file FILE " +
          "--mac-file FILE $RAWMSG)")
        require(keyPath.nonEmpty, "[SLOG] ERROR: Template parsing " +
          "failed. Invalid or missing key file")
        require(macPath.nonEmpty, "[SLOG] ERROR: Template parsing " +
          "failed. Invalid or missing MAC file")
        val msgC = compile(args(rest.head), resolve).cast("string")
        graft.operators.Slog.readKeyFile(keyPath.get) match {
          case None =>
            System.err.println("[SLOG] WARNING: Template parsing " +
              "failed, key file not found or invalid. Reverting to " +
              "clear text logging.")
            msgC
          case Some((k0, counter0)) =>
            // loud on unsequenced frames: silently-null entries would
            // read as an empty (passing) audit chain downstream
            val seqC = resolve("__MSG_SEQ__").cast("long")
            graft.functions.SlogChainEntry(msgC,
              coalesce(seqC, raise_error(lit("$(slog): the stream " +
                "carries no per-message sequence (__MSG_SEQ__)"))
                .cast("long")), k0, counter0)
        }

      // $(if cond a b): the reference compiles the condition with the
      // filter-expr grammar (cond-funcs.c:148-177) — both the
      // parenthesized and the quoted '"$X" eq "y"' forms. Conditions
      // that don't parse/compile as filter expressions fall back to the
      // evaluated-truth-string form ("true"/"1"/"yes").
      case Func("if", args, raw, _) if args.size == 3 =>
        val cond =
          try Some(condCol(raw.head, resolve))
          catch { case _: Exception => None }
        cond match {
          case Some(c) =>
            when(c, compile(args(1), resolve).cast("string"))
              .otherwise(compile(args(2), resolve).cast("string"))
          case None =>
            val c = compile(args(0), resolve)
            when(c === "true" || c === "1" || c === "yes",
              compile(args(1), resolve).cast("string"))
              .otherwise(compile(args(2), resolve).cast("string"))
        }

      // ---- value-pairs-cmdline formatters (lib/value-pairs/cmdline.c):
      // args re-split from their raw text so `k=v` pairs, --options and
      // type hints are parsed BEFORE template compilation, exactly like
      // vp_cmdline_parse runs over argv
      case Func(name, _, raw, _)
          if Set("format-json", "format_json", "format-flat-json",
            "format_flat_json", "format-welf", "format_welf",
            "format-cef-extension", "format_cef_extension",
            "graphite-output", "graphite_output")
            .contains(name) =>
        val stripped = raw.map(r => splitArgs2(r).headOption.map(_._1).getOrElse(""))
        val comp = (s: String) => compile(parse(s), resolve)
        val canon = name.replace('_', '-')
        if (canon == "format-welf") VpCmdline.formatWelf(stripped, resolve, comp)
        else if (canon == "format-cef-extension")
          VpCmdline.formatCef(stripped, resolve, comp)
        else if (canon == "graphite-output")
          VpCmdline.formatGraphite(stripped, resolve, comp)
        else VpCmdline.formatJson(stripped, resolve, comp,
          flat = canon == "format-flat-json")

      case Func(name, args, _, _) =>
        // '-' and '_' interchange in plugin names like the reference's
        // lexer-normalized lookups ($(format_json) == $(format-json))
        val f = TemplateFunctions.registry.get(name)
          .orElse(TemplateFunctions.registry.get(name.replace('_', '-')))
          .getOrElse(
            throw new IllegalArgumentException(s"unknown template function $$($name)"))
        val targs = args.map { a =>
          val literalText = a.nodes match {
            case Seq() => Some("")
            case Seq(Lit(s)) => Some(s)
            case _ => None
          }
          TemplateFunctions.TArg(compile(a, resolve), literalText)
        }
        coalesce(f(targs).cast("string"), lit(""))
    }
    // template-escape(yes) (lib/template/templates.c result_append
    // escape path): VALUE expansions escape ' " \ with backslashes;
    // literal template text passes through raw
    def esc(n: Node, c: Column): Column = n match {
      case _: Lit => c
      case _ if !escape => c
      case _ => regexp_replace(c.cast("string"),
        "([\"'\\\\])", "\\\\$1")
    }
    def nodeColE(n: Node): Column = esc(n, nodeCol(n))
    t.nodes match {
      case Seq() => lit("")
      case Seq(one) => nodeColE(one)
      case many => concat(many.map(nodeColE): _*)
    }
  }

  /** One-step convenience: template string + schema columns -> Column.
    * `tz` = the template's `time-zone()` option (rewrite set /
    * destination templates) — date macros render in that zone. */
  /** `truncate-size()` writer option (`lib/logwriter.c:1103-1110`):
    * the fully formatted line is cut at `n` BYTES (g_string_truncate
    * on the output buffer — octet count, not characters); shorter
    * lines pass untouched. The reference truncates after the newline
    * is appended, so a cut below the delimiter eats it too — callers
    * that frame by delimiter apply this to the body only (the
    * framing-preserving translation). */
  def truncateOctets(line: Column, n: Int): Column =
    when(octet_length(line) > n,
      decode(substring(line.cast("binary"), 1, n), "UTF-8"))
      .otherwise(line)

  def column(template: String, columns: Seq[String],
      tz: Option[String] = None,
      templates: Map[String, String] = Map.empty,
      fracDigits: Int = 0,
      escape: Boolean = false): Column =
    compile(parse(template),
      Macros.resolver(columns.toSet, tz, fracDigits), templates, escape)
}
