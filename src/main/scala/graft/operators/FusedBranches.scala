package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Single-scan compilation for DISJOINT branch unions (r15 VERDICT item 3).
  *
  * A junction compiles as K filtered-and-transformed views of one input,
  * unioned back. Catalyst pushes each branch's deliver predicate below
  * any shared exchange, so the K-branch union re-reads the source K
  * times (app_parser / route_junction / config_pipeline_v3: 3 events
  * scans each, ReusedExchange = 0 in the r15 plan audit). When
  *
  *  1. the branches are provably DISJOINT (every row delivers to at most
  *     one branch — the final/fallback flag structure guarantees it),
  *  2. every branch body is ROW-LOCAL (its analyzed plan is nothing but
  *     Project/Filter nodes over the shared input), and
  *  3. every delivery predicate and output expression is DETERMINISTIC
  *     (a `rand()` the union evaluates once per branch row must not be
  *     re-drawn by a fused plan that evaluates it elsewhere),
  *
  * the union is semantically a single projection that routes each row
  * ONCE, like the reference's multiplexer (`lib/logmpx.c`): one column
  * computes the delivering branch's index
  * `CASE WHEN deliver_1 THEN 0 ... WHEN deliver_k THEN k-1 END`, rows
  * with a NULL index are dropped, and each output column is either the
  * expression every branch agrees on (pass-through columns stay bare
  * attributes) or `CASE WHEN idx = 0 THEN e_1 ... END` over the index.
  * One scan, one codegen stage, no union, and no branch predicate
  * repeated per column — the plan grows with the columns branches
  * rewrite, not with columns × branches. A fused junction nested in a
  * branch (`if/elif/else` puts one in the `else` channel) joins the
  * enclosing index as one branch per inner channel, so its own index is
  * not copied into every column that depends on it.
  *
  * Anything non-row-local (joins, aggregates, nested unions that did not
  * themselves fuse), nondeterministic or type-divergent falls back to
  * the union compile — the fusion NEVER changes results, only the plan:
  * the fused schema must equal the union schema, or the union is kept.
  */
object FusedBranches {

  /** Try to fuse `parts` (the per-branch OUTPUT frames, in union order)
    * into one projection over `base`. The caller must guarantee
    * disjointness; this function verifies row-locality, determinism and
    * schema equality with `fallback` (the unionByName compile of the
    * same parts) and returns `fallback` when fusion is not applicable. */
  def fuseOrUnion(base: DataFrame, parts: Seq[DataFrame],
      fallback: => DataFrame): DataFrame = {
    val union = fallback
    try fuse(base, parts, union).getOrElse(union)
    catch { case scala.util.control.NonFatal(_) => union }
  }

  private def fuse(base: DataFrame, parts: Seq[DataFrame],
      union: DataFrame): Option[DataFrame] = {
    val basePlan = base.queryExecution.analyzed
    val flat = parts.map(p => flatten(p.queryExecution.analyzed, basePlan))
    if (flat.exists(_.isEmpty)) return None
    val branches = flat.flatMap(_.get)
    if (branches.exists { case (out, cond) =>
        !cond.deterministic || out.exists(!_._2.deterministic) }) return None
    // union-by-name column order: first branch's columns, then each later
    // branch's new columns in order of appearance
    val names = branches.foldLeft(Vector.empty[String]) { (acc, b) =>
      acc ++ b._1.map(_._1.name).filterNot(acc.contains)
    }
    // route once: the delivering branch's index, NULL when none delivers
    val idxName = Iterator.from(0).map(i => s"__branch$i")
      .find(n => !base.columns.exists(_.equalsIgnoreCase(n))).get
    val route = CaseWhen(branches.zipWithIndex.map { case ((_, cond), i) =>
      (cond, Literal(i)) }, None)
    val routed = base.withColumn(idxName, ColumnBridge.column(route))
      .filter(col(idxName).isNotNull)
    val idx = routed.queryExecution.analyzed.output.last
    val cols = names.map { n =>
      val exprs = branches.map(_._1.find(_._1.name == n).map(_._2))
      exprs.head.filter(e0 => exprs.forall(_.exists(_.semanticEquals(e0)))) match {
        case Some(a: Attribute) if a.name == n => ColumnBridge.column(a)
        case Some(e) => ColumnBridge.column(e).as(n)
        case None =>
          // a branch without the column contributes NULL (union's
          // null-fill): CaseWhen with no otherwise yields exactly that
          val cases = exprs.zipWithIndex.collect { case (Some(e), i) =>
            (EqualTo(idx, Literal(i)): Expression, e) }
          ColumnBridge.column(CaseWhen(cases, None)).as(n)
      }
    }
    val fused = routed.select(cols: _*)
    // the only acceptable fusion is an invisible one: same names, same
    // types, same order as the union compile (CaseWhen and Union share
    // the wider-common-type coercion family, but assert rather than
    // assume; nullability may legitimately differ)
    val same = fused.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      union.schema.fields.map(f => (f.name, f.dataType)).toSeq
    if (!same) return None
    val root = fused.queryExecution.analyzed
    root.setTagValue(Leaves, (root, basePlan, branches))
    Some(fused)
  }

  private type Branch = (Seq[(Attribute, Expression)], Expression)

  /** A fused plan's root, base and branches, kept on the root for an
    * enclosing fusion to route to directly. A rewritten copy of the root
    * inherits the tag but not the identity, and is flattened as a plain
    * Project instead. */
  private val Leaves =
    TreeNodeTag[(LogicalPlan, LogicalPlan, Seq[Branch])]("graft.fusedLeaves")

  /** Flatten a branch-output plan into its leaf branches, each (output
    * attr -> expression over `basePlan`'s attributes, row condition over
    * the same) — or None if the plan is not a pure Project/Filter chain
    * over `basePlan`. A chain has one leaf; a fused junction inside it
    * contributes one leaf per branch, in its routing order. */
  private def flatten(plan: LogicalPlan, basePlan: LogicalPlan)
      : Option[Seq[Branch]] = plan match {
    case p if p.fastEquals(basePlan) =>
      Some(Seq((basePlan.output.map(a => (a: Attribute, a: Expression)),
        Literal.TrueLiteral)))
    case p: Project if p.getTagValue(Leaves).exists(_._1 eq p) =>
      val (_, innerBase, leaves) = p.getTagValue(Leaves).get
      flatten(innerBase, basePlan).map(_.flatMap { case (childOut, cond) =>
        val m = exprMap(childOut)
        leaves.map { case (out, c) =>
          // each fused column at its fused type, NULL where a branch lacks it
          val cols = p.output.map { o =>
            val e = out.find(_._1.name == o.name).map(x => subst(x._2, m))
              .getOrElse(Literal(null, o.dataType))
            o -> (if (e.dataType == o.dataType) e else Cast(e, o.dataType))
          }
          (cols, and(cond, subst(c, m)))
        }
      })
    case Project(list, child) =>
      flatten(child, basePlan).map(_.map { case (childOut, cond) =>
        val m = exprMap(childOut)
        (list.map(ne => (ne.toAttribute, subst(compute(ne), m))), cond)
      })
    case Filter(c, child) =>
      flatten(child, basePlan).map(_.map { case (childOut, cond) =>
        (childOut, and(cond, subst(c, exprMap(childOut))))
      })
    case SubqueryAlias(_, child) => flatten(child, basePlan)
    case _ => None
  }

  private def and(cond: Expression, c: Expression): Expression =
    if (cond == Literal.TrueLiteral) c else And(cond, c)

  private def exprMap(out: Seq[(Attribute, Expression)]): Map[ExprId, Expression] =
    out.map { case (a, e) => a.exprId -> e }.toMap

  /** The expression computing a projection item (strip one Alias). */
  private def compute(ne: NamedExpression): Expression = ne match {
    case Alias(child, _) => child
    case e => e
  }

  private def subst(e: Expression, m: Map[ExprId, Expression]): Expression =
    e.transformUp {
      case a: AttributeReference if m.contains(a.exprId) => m(a.exprId)
    }
}
