package graft.dsl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The config-compile stage (SURVEY §3.1): a `log {}` statement is a
  * sequence of elements; `junction { channel {} }` fans out and unions
  * back; channel flags reproduce the mpx delivery rules. Mirrors
  * `cfg_tree_compile_rule`/`_sequence`/`_junction`
  * (`/root/reference/lib/cfg-tree.c:923-1178`) with DataFrames instead
  * of LogPipe chains: fan-out is N filtered views of ONE plan (Catalyst
  * CSEs the shared prefix; the COW clone of `lib/logmpx.c:105` is free
  * on immutable rows).
  *
  * A channel's "match" predicate is the conjunction of its leading
  * `filter()` elements — what decides final/fallback delivery in the
  * reference (`PIF_BRANCH_FINAL`, mpx fallback pass
  * `lib/logmpx.c:88-109`). A filter after a parser or rewrite reads the
  * rewritten row, so it runs in the channel's body instead.
  */
object LogPath {

  sealed trait Element
  /** filter(pred) — drops non-matching rows (filter-pipe.c:46). */
  final case class Filter(pred: Column) extends Element
  /** parser/rewrite — any row-wise DataFrame transform. */
  final case class Transform(f: DataFrame => DataFrame) extends Element
  /** junction { channel; ... } — fan-out + union fan-in. */
  final case class Junction(channels: Seq[Channel]) extends Element

  /** Channel flags (`lib/cfg-tree.h:36-38`). */
  sealed trait Flag
  /** Matched messages stop matching later channels. */
  case object Final extends Flag
  /** Receives only messages matched by NO non-fallback channel. */
  case object Fallback extends Flag

  final case class Channel(name: String, elements: Seq[Element],
      flags: Set[Flag] = Set.empty) {
    /** The predicate deciding whether a message "matches" this channel:
      * the conjunction of its leading filters. */
    private[dsl] def matchPred: Column =
      elements.takeWhile(_.isInstanceOf[Filter]).collect { case Filter(p) => p }
        .reduceOption(_ && _).getOrElse(lit(true))
    /** The channel's elements after its leading filters, which
      * [[deliveryPredicates]] has already folded into delivery. A later
      * filter stays here and reads the rows the elements before it wrote. */
    def body: Seq[Element] = elements.dropWhile(_.isInstanceOf[Filter])
  }

  /** Compile a path (sequence of elements) over an input DataFrame —
    * `cfg_tree_compile_sequence`. */
  def compile(df: DataFrame, elements: Seq[Element]): DataFrame =
    elements.foldLeft(df) {
      case (d, Filter(p)) => d.filter(p)
      case (d, Transform(f)) => f(d)
      case (d, Junction(chs)) => compileJunction(d, chs)
    }

  /** The mpx delivery rules (`lib/logmpx.c:88-109`, SURVEY §2.6) as one
    * predicate per channel, in channel order. The multiplexer offers a
    * message to the non-fallback channels in order, then — only if none
    * of them matched — to the fallback channels in order; within each
    * pass a matching FINAL channel stops the later ones. So channel k
    * receives `match_k && !match_j` for every earlier FINAL channel j of
    * its pass, and a fallback channel additionally requires that no
    * non-fallback channel matched. Every fan-out — the junction compile
    * and the streaming fan-out sink
    * (`graft.streaming.Sinks.foreachBatchFanOut`) — delivers through
    * these.
    *
    * A channel's match is read by another channel when it is FINAL with
    * a later channel in its pass, or when it is a non-fallback channel
    * of a junction that has a fallback. A filter after a rewrite decides
    * that match on the rewritten row, which no predicate on the
    * junction's input expresses, so such a channel fails the compile
    * instead of misrouting. */
  def deliveryPredicates(channels: Seq[Channel]): Seq[Column] = {
    // null-safe match: a filter over a NULL column (e.g. program on an
    // unparsed line) evaluates to SQL NULL, and a raw NULL in the
    // `match && !blocked` / `!anyMatch` chains would drop the row from
    // EVERY channel including the fallback — the reference's filters
    // simply don't match on unset values, so NULL coerces to false
    def pred(ch: Channel): Column = coalesce(ch.matchPred, lit(false))
    def isFallback(ch: Channel): Boolean = ch.flags.contains(Fallback)
    channels.zipWithIndex.foreach { case (ch, i) =>
      val readByOthers = (ch.flags.contains(Final) &&
          channels.drop(i + 1).exists(isFallback(_) == isFallback(ch))) ||
        (!isFallback(ch) && channels.exists(isFallback))
      if (readByOthers && ch.body.exists(_.isInstanceOf[Filter]))
        throw new IllegalArgumentException(s"channel ${ch.name}: a filter " +
          "after a parser, rewrite or junction decides final/fallback " +
          "delivery to other channels; move it before them")
    }
    val anyMatch = channels.filterNot(isFallback).map(pred)
      .reduceOption(_ || _).getOrElse(lit(false))
    // the matches of the FINAL channels seen so far, per pass
    var blocked = Map.empty[Boolean, Column]
    channels.map { ch =>
      val fallback = isFallback(ch)
      val own = if (fallback) pred(ch) && !anyMatch else pred(ch)
      val deliver = blocked.get(fallback).fold(own)(b => own && !b)
      if (ch.flags.contains(Final))
        blocked += fallback -> blocked.get(fallback).fold(pred(ch))(_ || pred(ch))
      deliver
    }
  }

  /** Junction compile — `cfg_tree_compile_junction` + the mpx delivery
    * rules of [[deliveryPredicates]]. Each branch then runs its own
    * parsers/rewrites; outputs union by name (missing columns
    * null-filled), preserving the reference's "branches may produce
    * different NV sets" behavior. Output rows carry their channel's
    * name in `__channel`. */
  def compileJunction(df: DataFrame, channels: Seq[Channel]): DataFrame =
    compileJunctionWith(df, channels, (_, d, body) => compile(d, body))

  /** [[compileJunction]] with a pluggable channel-body compiler —
    * `compileBody(idx, delivered, bodyElements)` — so the config
    * front end can recurse into channel paths (embedded `log {}`
    * statements carry their own destinations, which must route from
    * the stream INSIDE the channel). The mpx delivery rules are
    * identical. */
  def compileJunctionWith(df: DataFrame, channels: Seq[Channel],
      compileBody: (Int, DataFrame, Seq[Element]) => DataFrame): DataFrame = {
    val outs = channels.zip(deliveryPredicates(channels)).zipWithIndex.map {
      case ((ch, deliver), i) =>
        val out = compileBody(i, df.filter(deliver), ch.body)
        // a nested junction already labeled its rows — keep the LEAF
        // channel name (the actual route), only label unlabeled rows
        if (out.columns.contains("__channel"))
          out.withColumn("__channel", coalesce(col("__channel"), lit(ch.name)))
        else out.withColumn("__channel", lit(ch.name))
    }
    def union = outs.reduce(_.unionByName(_, allowMissingColumns = true))
    // DISJOINT delivery (final/fallback structure: every non-fallback
    // channel but the last is final, at most one fallback) + row-local,
    // deterministic channel bodies fuse to ONE scan instead of the
    // K-scan union: each row's channel is decided once, like the
    // reference's multiplexer, and only the columns channels set
    // differently branch on it (graft.operators.FusedBranches).
    // Channels with joins/aggregates (or a second fallback) keep the
    // union — the fusion is plan-only, never semantic.
    val nonFb = channels.filterNot(_.flags.contains(Fallback))
    val disjoint = channels.count(_.flags.contains(Fallback)) <= 1 &&
      nonFb.dropRight(1).forall(_.flags.contains(Final))
    if (disjoint)
      graft.operators.FusedBranches.fuseOrUnion(df, outs, union)
    else union
  }

  /** app-parser() (`/root/reference/modules/appmodel/
    * app-parser-generator.c:128-236`): the generated junction of per-app
    * {detect-filter, parser} channels with final flags, plus a fallback
    * channel for unrecognized input. Output carries the detected app in
    * `__channel`. */
  def appParser(df: DataFrame,
      apps: Seq[(String, Column, DataFrame => DataFrame)]): DataFrame =
    compileJunction(df,
      apps.map { case (name, detect, parse) =>
        Channel(name, Seq(Filter(detect), Transform(parse)), Set(Final))
      } :+ Channel("unknown", Seq.empty, Set(Fallback)))
}
