package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The routing plan algebra — `log {}` paths, `junction { channel {} }`,
  * `if/elif/else`, and the `final` / `fallback` / `catchall` flags.
  *
  * Mirrors the compile step of `/root/reference/lib/cfg-tree.c:923-1178`
  * and the multiplexer delivery pass `/root/reference/lib/logmpx.c:73-131`:
  * a message fans out to every matching branch; a branch with
  * `flags(final)` stops later branches from seeing delivered messages
  * (`lib/logpipe.h:50`); `flags(fallback)` branches see only messages NO
  * normal branch matched (`lib/cfg-tree.h:37`).
  *
  * The compilation strategy is the §4 SURVEY note: generate *disjoint
  * predicates once* and let Catalyst CSE them — each branch becomes
  * `filter(effective_pred) |> transform`, and the junction output is the
  * union. There is no per-row routing state at runtime, so the plan
  * parallelizes like any other scan+filter (no shuffle introduced by
  * routing itself).
  */
object Routing {

  final case class Branch(
      name: String,
      predicate: Column,
      transform: DataFrame => DataFrame = identity,
      isFinal: Boolean = false,
      isFallback: Boolean = false)

  object Branch {
    def apply(name: String, predicate: Column): Branch =
      new Branch(name, predicate)
  }

  /** Effective (delivery) predicate per branch, honoring final/fallback.
    *
    * - branch k sees a row iff its predicate holds AND no earlier `final`
    *   branch already delivered it;
    * - a fallback branch sees rows matched by no normal branch.
    */
  def effectivePredicates(branches: Seq[Branch]): Seq[(Branch, Column)] = {
    // NULL-safe composition: a predicate over an unset column yields SQL
    // NULL, and a raw NULL inside `!anyNormal` would drop the row from
    // the FALLBACK branch too (black-holed). Reference filters simply
    // don't match on unset values — coerce NULL to false everywhere.
    def p(b: Branch): Column = coalesce(b.predicate, lit(false))
    val normal = branches.filterNot(_.isFallback)
    val anyNormal = normal.map(p) match {
      case Seq() => lit(false)
      case ps => ps.reduce(_ || _)
    }
    var priorFinals = lit(false)
    branches.map { b =>
      val eff =
        if (b.isFallback) !anyNormal
        else p(b) && !priorFinals
      // delivered-by-final == pred && !prior, so prior' = prior || pred
      if (b.isFinal && !b.isFallback)
        priorFinals = priorFinals || coalesce(b.predicate, lit(false))
      (b, eff)
    }
  }

  /** `junction { channel{} ... }`: fan-out + fan-in (union of branch
    * outputs). Branch outputs are aligned by column name; columns missing
    * from some branch become null (branches may parse different shapes). */
  def junction(df: DataFrame, branches: Seq[Branch],
      tagBranch: Option[String] = None): DataFrame = {
    val parts = effectivePredicates(branches).map { case (b, pred) =>
      val branchDf = b.transform(df.filter(coalesce(pred, lit(false))))
      tagBranch match {
        case Some(tagCol) => branchDf.withColumn(tagCol, lit(b.name))
        case None => branchDf
      }
    }
    def union = parts.reduce(_.unionByName(_, allowMissingColumns = true))
    // DISJOINT delivery (each row reaches at most one branch) holds when
    // every non-fallback branch but the last is final and there is at
    // most one fallback — then row-local, deterministic bodies fuse into
    // ONE scan that computes each row's branch once (FusedBranches; the
    // K-branch union re-read the source K times). Non-disjoint fan-out
    // keeps the union compile.
    val nonFb = branches.filterNot(_.isFallback)
    val disjoint = branches.count(_.isFallback) <= 1 &&
      nonFb.dropRight(1).forall(_.isFinal)
    if (disjoint) FusedBranches.fuseOrUnion(df, parts, union) else union
  }

  /** `if (cond) { then } else { else }` — sugar for a two-branch junction
    * (`lib/cfg-tree.c:399-409`). */
  def ifElse(df: DataFrame, cond: Column,
      thenT: DataFrame => DataFrame,
      elseT: DataFrame => DataFrame = identity): DataFrame =
    junction(df, Seq(
      Branch("then", cond, thenT, isFinal = true),
      Branch("else", lit(true), elseT)))

  /** `flags(catchall)`: a path fed by ALL sources regardless of source
    * lists (`lib/cfg-tree.h:36`) — union of every source frame. */
  def catchall(sources: Seq[DataFrame]): DataFrame =
    sources.reduce(_.unionByName(_, allowMissingColumns = true))

  /** unmatched-drop accounting (`PIF_DROP_UNMATCHED` + the `matched`
    * flag, `lib/logpipe.h:54,388`): keep rows matching `pred` and count
    * the dropped remainder as a named observation. `Dataset.observe`
    * compiles to CollectMetrics — the counts ride the existing action
    * (batch) or epoch (streaming) with no extra pass over the data;
    * read them via `org.apache.spark.sql.Observation` or a streaming
    * progress listener. */
  def filterCountingUnmatched(df: DataFrame, pred: Column,
      obs: org.apache.spark.sql.Observation): DataFrame =
    df.observe(obs,
        sum(when(pred, 0L).otherwise(1L)).as("unmatched_dropped"),
        count(lit(1)).as("total"))
      .filter(pred)
}
