package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SortedRunAgg

/** Session-scoped stateful operators, batch form (SURVEY §2.4
  * grouping-by, §2.7 suppress/throttle). The streaming forms share the
  * same semantics via flatMapGroupsWithState (graft.streaming).
  *
  * Scale notes: groupingBy/suppress compile to ONE hash exchange on the
  * key + ONE in-partition (key, ts) sort + a codegen'd Project whose
  * [[graft.functions.SessionOrdinal]] expression assigns session
  * ordinals in a streaming O(1)-state prefix scan + ONE Complete-mode
  * SortAggregate riding the existing (key, ordinal) order via
  * [[org.apache.spark.sql.graftbridge.SortedRunAgg]] — no partial
  * aggregate (it could combine nothing: the ordinal exists only after
  * the exchange), no ObjectHashAggregate fallback sorts, no hash map at
  * all. NOT
  * Spark's builtin `session_window` (useless pre-exchange partial
  * ObjectHashAggregate, 37x/decade at sf100p, r13) and NOT a
  * lag/cumulative-sum Window pass (WindowExec buffers + copies every
  * row per key group across two window operators — 21-33x last decade,
  * scale_matrix_r14.jsonl + jstack attribution). throttle uses a
  * ranking window: one shuffle + in-partition sort, bounded state.
  */
object Sessions {

  /** Production default hot-key budget for the session operators (r16,
    * r15 VERDICT item 3): 200k rows per split task — the r15 scale
    * matrix's measured operating point (grouping_by_session
    * sf100p_skew50 fixed-width twin 183.7 -> 76.9 s; skew50 cells
    * within the r14 acceptance bar of 2-3x uniform). On healthy data
    * the zero-hot fast path in [[skewSessionAgg]] returns the EXACT
    * unsplit plan, so the protection costs one bounded detection pass
    * and nothing else. `Long.MaxValue` never splits: it takes the
    * unsplit plan through the RowBound or zero-hot fast path. */
  val defaultHotKeyBudget: Long = 200000L

  /** grouping-by() (`/root/reference/modules/dbparser/groupingby.c:
    * 35-51,479-487`): sessionize rows per `key` with an inactivity gap
    * of `timeoutSeconds` (`timeout()`), aggregate each session.
    *
    *  - `where` = the reference's where() pre-filter;
    *  - `having` = having() post-filter on the aggregated row;
    *  - `aggs` = aggregate() synthetic-message columns; context
    *    functions map to Spark aggs ($(context-length) → count,
    *    $(context-values $x) → sortedValues below, $(sum $x) → sum).
    *
    * The session plan is the [[graft.functions.SessionOrdinal]]
    * prefix-scan form of [[skewSessionAgg]] (see its `unsplit` for why
    * neither builtin route is used), split on keys with more than
    * `splitHotKeysOver` rows; exposed columns `session_start`/
    * `session_end` keep session_window's [first-event, last-event +
    * gap) frame.
    */
  def groupingBy(df: DataFrame, key: Column, ts: Column, timeoutSeconds: Int,
      aggs: Seq[Column], where: Column = lit(true),
      having: Column = lit(true),
      splitHotKeysOver: Long = defaultHotKeyBudget): DataFrame = {
    // `aggs` must be ORDER-INSENSITIVE (count/sum/min/max/sortedValues
    // are): the skew route's stitch branch aggregates under the default
    // planner, where input order is not the sorted order
    val base = df.filter(where).filter(ts.isNotNull)
      .withColumn("__gkey", key).withColumn("__gts", ts)
      .withColumn("__gus", unix_micros(col("__gts").cast("timestamp")))
      .withColumn("__gmaxsrc", col("__gts"))
    // Session frame matches session_window exactly:
    // [min(ts), max(ts) + gap).
    val fullAggs = aggs :+
      min(col("__gts")).as("session_start") :+
      max(col("__gmaxsrc")).as("__gmax")
    skewSessionAgg(base, Seq(col("__gts")),
        timeoutSeconds * 1000000L, splitHotKeysOver,
        mainAggs = fullAggs, stitchAggs = fullAggs, keyAlias = "key")
      .filter(having)
      .withColumn("session_end",
        expr(s"timestampadd(SECOND, $timeoutSeconds, __gmax)"))
      .drop("__gmax")
  }

  /** grouping-by's persist name (`groupingby.c:363-369`,
    * test_grouping_by.c:61-111): `grouping-by(<key template text>)` —
    * two parsers share correlation state across a config reload iff
    * their KEY TEMPLATES render the same name. The reference formats
    * into a static 512-byte buffer with g_snprintf, so the name
    * TRUNCATES at 511 bytes — two long templates sharing a 511-byte
    * prefix collide onto one state blob (quirk preserved). IDENTITY is
    * the raw truncated BYTE prefix ([[persistNameBytes]]) exactly like
    * the C buffer; this String form is display-only — a multi-byte char
    * split at byte 511 decodes as U+FFFD here, so two templates
    * differing only inside the split character render the same STRING
    * but remain distinct identities (the C compares bytes). */
  def persistName(keyTemplate: String): String = {
    val b = persistNameBytes(keyTemplate)
    new String(b, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** The identity form: g_snprintf's 512-byte buffer keeps the first
    * 511 raw bytes of `grouping-by(<template>)` — byte-exact, no
    * charset decode involved. */
  def persistNameBytes(keyTemplate: String): Array[Byte] = {
    val b = s"grouping-by($keyTemplate)"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    if (b.length <= 511) b else java.util.Arrays.copyOf(b, 511)
  }

  /** The Spark mapping of `cfg_persist_config_fetch` (groupingby.c:
    * 488-506): state identity across config reloads is the CHECKPOINT
    * path, derived from the persist name — a reload keeping the key
    * template resumes its state store; changing it lands on a fresh
    * path (the reference allocates a fresh correlation state when the
    * fetch misses). Sanitized for the filesystem with an md5 suffix so
    * distinct names never collide post-sanitization. */
  def persistCheckpoint(base: String, keyTemplate: String): String = {
    val name = persistName(keyTemplate)
    val safe = name.map(c =>
      if (c.isLetterOrDigit || c == '-' || c == '(' || c == ')') c else '_')
      .take(80)
    // hash the BYTE identity (persistNameBytes), not the decoded string:
    // a U+FFFD-decoded split tail would merge names the C keeps distinct
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(persistNameBytes(keyTemplate))
      .take(8).map(x => f"$x%02x").mkString
    s"$base/$safe-$h"
  }

  /** $(context-values $v) with sort-key() (`groupingby.c:327`): values
    * of a context ordered by `sortKey`, str-repr encoded (the
    * reference's list repr — a value containing a comma renders
    * quoted, test_basicfuncs.c test_context_funcs). Null values (rows
    * a grep condition rejected) drop. Deterministic when sortKey is
    * unique per row. */
  def sortedValues(value: Column, sortKey: Column): Column =
    // collect_list(struct) rides the sorted-run Complete SortAggregate
    // (SortedRunAgg — see groupingBy). The five declarative routes it
    // replaced, A/B'd at sf100p cold-JVM on grouping_by_session: OHA
    // with its default 128-key sort fallback 99.6 s; OHA with the
    // fallback disabled (16M-key map) 319 s GC-bound; planner-chosen
    // SortAggregate (inserts its own re-sort) 180 s; a declarative
    // array-concat aggregate (CollectArrayDecl, deleted with its A/B)
    // 402 s; the interim Window-ordinal plan 416 s. The remaining list
    // cost is the heap materialization of one element per input row --
    // linear in the OUTPUT, which itself is linear in input here.
    graft.functions.ListFunctions.list_encode(filter(transform(
      array_sort(collect_list(struct(sortKey.as("k"),
        value.cast("string").as("v")))),
      e => e.getField("v")), _.isNotNull))

  /** Multi-value form: `values` is one array per row (e.g. $(grep cond
    * $PID $PROGRAM) emits every argument per matching row,
    * cond-funcs.c:75-145 interleaved). `limit` caps the number of
    * contributing ROWS ($(grep -m N ...) max-count). `quote` selects
    * the join encoding: $(context-lookup) str-repr-quotes each element
    * (context-funcs.c:78 str_repr_encode_append) while $(grep) appends
    * the RAW rendered values with a bare ',' (cond-funcs.c:133). */
  def sortedValuesMulti(values: Column, sortKey: Column,
      limit: Option[Int] = None, quote: Boolean = true): Column = {
    val sorted = filter(transform(
      array_sort(collect_list(struct(sortKey.as("k"), values.as("v")))),
      e => e.getField("v")), _.isNotNull)
    val limited = limit.map(m => slice(sorted, 1, m)).getOrElse(sorted)
    val flat = flatten(limited)
    if (quote) graft.functions.ListFunctions.list_encode(flat)
    // $(grep): an unset macro renders "" but KEEPS its position and
    // delimiter (cond-funcs.c:133 appends ',' then the rendered value,
    // empty or not) — array_join alone would silently drop nulls and
    // shift every later value left (ADVICE r11)
    else array_join(transform(flat, v => coalesce(v, lit(""))), ",")
  }

  /** suppress(N) (`lib/logwriter.c:565-640`): drop messages identical to
    * the previous one (same `key` — host/program/message in the
    * reference) arriving within `seconds` of it; the suppression window
    * slides with every suppressed repeat, so a run of repeats each
    * within `seconds` of the previous collapses to its first message.
    * That run is exactly a session: emit the first row per session plus
    * the reference's "last message repeated n times" count.
    *
    * `order` breaks arrival-order ties deterministically (§7.4 risk 4:
    * micro-batches reorder; we define order by (ts, order)).
    */
  def suppress(df: DataFrame, key: Column, ts: Column, seconds: Int,
      order: Column, splitHotKeysOver: Long = defaultHotKeyBudget): DataFrame = {
    // A repeat within `seconds` of its predecessor chains the window
    // exactly like session_window's [ts, ts+gap) merge. first() rides
    // the claimed (key, ts, order) sort on the main branch; the stitch
    // branch (default planner, no order guarantee) uses the
    // order-insensitive min_by equivalent.
    val base = df.filter(ts.isNotNull) // session_window drops null-ts rows; keep that
      .withColumn("__gkey", key).withColumn("__gts", ts)
      .withColumn("__sord", order)
      .withColumn("__gus", unix_micros(col("__gts").cast("timestamp")))
    def shared = Seq(
      unix_micros(min(col("__gts"))).as("first_ts_us"),
      (count(lit(1)) - 1).as("n_suppressed"))
    skewSessionAgg(base, Seq(col("__gts"), col("__sord")),
      seconds * 1000000L, splitHotKeysOver,
      mainAggs = first(col("__sord")).as("first_id") +: shared,
      stitchAggs = min_by(col("__sord"),
        struct(col("__gts"), col("__sord"))).as("first_id") +: shared,
      keyAlias = "suppress_key")
      .select(col("suppress_key"), col("first_id"), col("first_ts_us"),
        col("n_suppressed"))
  }

  /** Skew-split sessionization core (r15 — kills the hot-key straggler
    * the r14 verdict flagged: one chatty host hash-partitions onto ONE
    * task and serializes its entire sort+scan+fold; skew50 measured
    * 9.2x the uniform cell at sf10p).
    *
    * Semantics preserved exactly (`groupingby.c:479-487` per-key
    * process, session frame [min(ts), max(ts)+gap)): splitting is an
    * execution detail — every oracle-compared output is identical to
    * the unsplit plan's.
    *
    * Plan (one query tree, the repartition exchange written once and
    * ReusedExchange'd by every branch):
    *  1. stats pass: per-key (count, min us, max us); keys with count >
    *     `budget` become HOT with nSplits = ceil(count/budget) (cap
    *     4096) contiguous ts-ranges of equal width. One extra scan of
    *     (key, ts) — the price of exact skew detection; cold keys pay
    *     a broadcast-join probe and nothing else.
    *  2. ONE exchange on (key, split) — a hot key now spreads over
    *     nSplits tasks — one in-partition sort (key, split, ts...),
    *     and the same SessionOrdinal prefix scan with the split joined
    *     into the session key (a split boundary opens a new LOCAL
    *     session even under a small ts gap).
    *  3. per-(key, split) summary of HOT rows only (min/max ordinal,
    *     first/last us — ≤ totalRows/budget rows by construction),
    *     then a tiny window per key ordered by split derives: does
    *     this split's first session merge with the previous present
    *     split's last (`first_us - prev_last_us < gap`)? and the
    *     cumulative ordinal re-base (sessions before this split minus
    *     cross-boundary merges so far). Chained merges (a one-session
    *     split bridging both neighbours) collapse transitively through
    *     the running base.
    *  4. main branch — every session that does NOT merge across a
    *     boundary, i.e. all cold keys + the interior of every split:
    *     groupBy(key, split, localOrd) rides the Complete sorted-run
    *     SortAggregate (SortedRunAgg): HashPartitioning(key, split)
    *     satisfies the (key, split, ord) clustering, the claimed sort
    *     matches, no partial aggregate, no new exchange.
    *  5. stitch branch — ONLY the boundary-merging sessions (≤ 2 per
    *     (hot key, split)): re-based global session id = ord + offset,
    *     then a standard partial+final aggregate over (key, gsid) —
    *     input is session-boundary-sized, not data-sized.
    *  6. unionByName.
    *
    * Worst case: gap so large a hot key is ONE session — every split
    * chain-merges and the whole key lands in the stitch branch (the
    * aggregate is output-bound there anyway). `mainAggs`/`stitchAggs`
    * must be order-insensitive or stitch-adjusted (see suppress).
    *
    * `base` must carry __gkey, __gts, __gus (+ any agg inputs);
    * `sortCols` is the in-partition sort after (key, split).
    */
  private def skewSessionAgg(base0: DataFrame, sortCols: Seq[Column],
      gapMicros: Long, budget: Long, mainAggs: Seq[Column],
      stitchAggs: Seq[Column], keyAlias: String): DataFrame = {
    require(budget > 0, s"splitHotKeysOver must be positive, got $budget")
    // Project the input to EXACTLY the referenced columns before the
    // exchange. Catalyst prunes each branch independently, and at
    // sf100p the main and stitch branches settled on DIFFERENT column
    // sets — canonically unequal subtrees, so the data-sized
    // (key, split) exchange was written TWICE (1.9 GB + 2.5 GB in the
    // r15 StageProbe) instead of written once and ReusedExchange'd.
    // One explicit shared projection makes both branches' exchange
    // subtrees identical AND minimal (host/program/message never ride
    // the session shuffle).
    // (column references are read off ANALYZED probe plans — the
    // unresolved Column AST nests subtrees in ColumnNode wrappers that
    // a tree collect does not traverse)
    // The exact unsplit sorted-run plan over `src`; every fast path
    // returns it. Gap sessionization is a per-key prefix scan; both
    // builtin routes measured superlinear decades on UNIFORM sf100p data:
    //  - builtin session_window plans a partial ObjectHashAggregate
    //    BEFORE the key exchange where every row is its own
    //    [ts, ts+gap) window — nothing combines, the 128-key sort
    //    fallback hits immediately, struct-window sort keys, and
    //    MergingSessions sorts twice more (37x/decade, r13 matrix);
    //  - the lag/cumulative-sum Window form pays WindowExec's
    //    per-group ExternalAppendOnlyUnsafeRowArray buffering — every
    //    row UnsafeRow.copy()'d into a buffer per window pass, twice
    //    (lag + running sum chain into two Window operators) — 33x
    //    last decade, jstack-attributed (scale_matrix_r14.jsonl).
    // The minimal plan needs NO buffering: ONE exchange on the key,
    // ONE in-partition sort (key, sortCols), a codegen'd Project whose
    // stateful SessionOrdinal expression assigns ordinals in O(1)
    // state per row, and ONE aggregate over (key, ordinal) whose
    // required clustering the key exchange already satisfies.
    // (key, ordinal) groups are CONSECUTIVE under that one sort, so
    // the aggregation is a streaming fold: SortedRunAgg claims the
    // order and plans ONE Complete SortAggregate — no partial
    // aggregate, no fallback sorts, one group's buffer in flight, and
    // suppress's first() reads the first row of each session. Measured
    // at sf100p cold-JVM vs the default planner routes:
    //  - list aggregates ($(context-values) → collect_list, which forces
    //    ObjectHashAggregate as a partial+final pair, both halves
    //    sort-falling-back at 128 keys over the already-sorted stream):
    //    99.6 s → 24.7 s (grouping_by_session);
    //  - fixed-width aggregates (partial+final codegen HashAggregate
    //    whose partial map fills at ~60M groups and combines ~nothing):
    //    14.4 s → 10.9 s (grouping_by_having), 23.9 → 15.1 (suppress).
    def unsplit(src: DataFrame): DataFrame = {
      val orded0 = src
        .repartition(col("__gkey"))
        .sortWithinPartitions(col("__gkey") +: sortCols: _*)
        .withColumn("__ord", graft.functions.SessionOrdinal.column(
          col("__gkey"), col("__gus"), gapMicros))
      SortedRunAgg.reroute(
        orded0.groupBy(col("__gkey").as(keyAlias), col("__ord"))
          .agg(mainAggs.head, mainAggs.tail: _*),
        "__gkey", "__ord").drop("__ord")
    }
    // 1a. probe-free fast path (r16): when a STATIC upper bound on the
    // input's row count (plan structure + parquet footer metadata — no
    // job, no scan) is already <= the budget, no key can possibly
    // exceed it. Return the unsplit plan IMMEDIATELY — before the
    // shared-projection scaffolding below, whose reference analysis
    // passes alone measured +0.2-0.5 s per build on the config-compiled
    // session queries at bench SF. Default-on protection is therefore
    // literally free below the budget; detection only runs where a hot
    // key is arithmetically possible (any real scale).
    // A streaming frame takes it too: hot-key detection is an eager
    // probe, meaningless (and unplannable) on a stream, whose session
    // semantics live in graft.streaming's stateful forms anyway.
    if (base0.isStreaming || RowBound.upperBound(base0).exists(_ <= budget))
      return unsplit(base0)
    val needed = {
      val allAggs = mainAggs ++ stitchAggs
      val aggRefs = base0.groupBy().agg(allAggs.head, allAggs.tail: _*)
        .queryExecution.analyzed.references.map(_.name)
      val sortRefs = base0.select(sortCols: _*)
        .queryExecution.analyzed.references.map(_.name)
      (Seq("__gkey", "__gts", "__gus") ++ aggRefs ++ sortRefs)
        .toSeq.distinct.filter(base0.columns.contains)
    }
    val base = base0.select(needed.map(col): _*)
    // 1. hot-key stats. Integer-exact while counts < 2^53 and the
    // per-key us-range < 2^53 µs (~285 years) — double floor/ceil
    // arithmetic is exact below that.
    val stats = base.groupBy(col("__gkey"))
      .agg(count(lit(1)).as("__hn"), min(col("__gus")).as("__hmin"),
        max(col("__gus")).as("__hmax"))
      .filter(col("__hn") > budget)
      .withColumn("__hns", least(
        floor((col("__hn") + lit(budget - 1)) / lit(budget)).cast("long"),
        lit(4096L)))
      .withColumn("__hw", greatest(
        ceil((col("__hmax") - col("__hmin") + lit(1)) / col("__hns"))
          .cast("long"), lit(1L)))
      .select(col("__gkey").as("__hkey"), col("__hns"),
        col("__hmin").as("__hlo"), col("__hw"))
    // 1b. zero-hot fast path (r15 matrix: with no hot keys the split
    // plan's branches still re-execute the sorted scan 4x — uniform
    // sf10p measured 12.8 s vs 6.2 s unsplit). One bounded eager probe
    // (limit(1) over the already-filtered stats aggregate) decides:
    // no hot keys -> the EXACT unsplit sorted-run plan, so the hot-key
    // budget costs healthy data one detection pass and nothing else.
    // This makes the operator eager on a batch frame whose row bound
    // exceeds the budget.
    if (stats.limit(1).count() == 0L) return unsplit(base)
    // 2. split assignment + the one exchange + sort + ordinal scan
    val tagged = base
      .join(broadcast(stats), col("__gkey") <=> col("__hkey"), "left")
      .withColumn("__split", when(col("__hns").isNull, lit(0L))
        .otherwise(least(
          floor((col("__gus") - col("__hlo")) / col("__hw")).cast("long"),
          col("__hns") - 1)))
      .withColumn("__hot", col("__hns").isNotNull)
      .drop("__hkey", "__hns", "__hlo", "__hw")
    val orded = tagged
      .repartition(col("__gkey"), col("__split"))
      .sortWithinPartitions(col("__gkey") +: col("__split") +: sortCols: _*)
      .withColumn("__ord", graft.functions.SessionOrdinal.column(
        col("__gkey"), col("__gus"), gapMicros, col("__split")))
    // 3. boundary summary + merge flags + ordinal re-base (hot only).
    // ≤ ceil(totalRows/budget) rows total (Σ per-hot-key splits), so the
    // window and the broadcast are bounded by the budget choice.
    val wk = Window.partitionBy(col("__skkey")).orderBy(col("__sksplit"))
    val flags = orded.filter(col("__hot"))
      .groupBy(col("__gkey").as("__skkey"), col("__split").as("__sksplit"))
      .agg(min(col("__ord")).as("__skmin"), max(col("__ord")).as("__skmax"),
        min(col("__gus")).as("__skfirst"), max(col("__gus")).as("__sklast"))
      .withColumn("__sknsess", col("__skmax") - col("__skmin") + 1)
      .withColumn("__skmp", coalesce(
        col("__skfirst") - lag(col("__sklast"), 1).over(wk) < gapMicros,
        lit(false)))
      .withColumn("__skmn", coalesce(
        lead(col("__skfirst"), 1).over(wk) - col("__sklast") < gapMicros,
        lit(false)))
      .withColumn("__skoff",
        coalesce(sum(col("__sknsess"))
          .over(wk.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)) -
        sum(when(col("__skmp"), lit(1L)).otherwise(lit(0L)))
          .over(wk.rowsBetween(Window.unboundedPreceding, 0)) -
        col("__skmin"))
      .select(col("__skkey"), col("__sksplit"), col("__skmin"),
        col("__skmax"), col("__skmp"), col("__skmn"), col("__skoff"))
    val routed = orded.join(broadcast(flags),
        col("__gkey") <=> col("__skkey") &&
          col("__split") === col("__sksplit"), "left")
      .withColumn("__merge", coalesce(
        (col("__skmp") && col("__ord") === col("__skmin")) ||
          (col("__skmn") && col("__ord") === col("__skmax")), lit(false)))
    // 4. main branch: Complete sorted-run over (key, split, ord) —
    // the (key, split) hash partitioning is a subset of the grouping,
    // the claimed (key, split, ord) ascending order is the real row
    // order (ordinals never decrease within a partition), and the
    // Filter between aggregate and claim is order-preserving.
    val main = SortedRunAgg.reroute(
      routed.filter(!col("__merge"))
        .groupBy(col("__gkey").as(keyAlias), col("__split"), col("__ord"))
        .agg(mainAggs.head, mainAggs.tail: _*),
      "__gkey", "__split", "__ord")
      .drop("__split", "__ord")
    // 5. stitch branch: boundary-merging sessions only
    val stitch = routed.filter(col("__merge"))
      .withColumn("__gsid", col("__ord") + col("__skoff"))
      .groupBy(col("__gkey").as(keyAlias), col("__gsid"))
      .agg(stitchAggs.head, stitchAggs.tail: _*)
      .drop("__gsid")
    main.unionByName(stitch)
  }

  /** throttle(N) (`lib/driver.h:169`, token bucket in `lib/logqueue.c`):
    * cap delivery at `n` rows per key per second; rows beyond the cap in
    * any wall-clock second drop. Batch form uses a ranking window —
    * the streaming form holds the token bucket in state. */
  def throttle(df: DataFrame, key: Column, ts: Column, n: Int,
      order: Column): DataFrame = {
    val second = date_trunc("second", ts)
    val w = Window.partitionBy(key, second).orderBy(ts, order)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .drop("__rn")
  }
}
