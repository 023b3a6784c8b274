package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical._

/** Static row-count upper bound for a DataFrame, from plan structure +
  * parquet footer metadata — NO job, no scan.
  *
  * Purpose (r16): the session operators' hot-key detection is one
  * bounded probe job; but when an upper bound on the INPUT's row count
  * is already <= the hot-key budget, no key can possibly exceed the
  * budget and the probe proves nothing — skip it and take the exact
  * unsplit plan for free. At any real scale the bound exceeds the
  * budget and detection runs as designed, so this only removes the
  * probe from degenerate-small inputs (the bench/oracle SFs: the
  * default-on protection measured +0.35-0.45 s per session query at
  * sf0.1 from the probe alone before this, 3 alternating A/B pairs).
  *
  * The walk is conservative: only row-preserving/row-reducing nodes are
  * traversed (Project/Filter/Sort/repartition/limits/dedup/subquery
  * aliases/Window — Window emits exactly one row per input row); leaves
  * must be LocalRelations (exact size) or parquet file relations (exact
  * row counts from footers, cached per file path+size). Anything else —
  * joins, generates, unions, streaming sources — returns None and the
  * caller probes.
  */
object RowBound {

  /** (path, fileSize) -> footer row count. Bounded by the distinct data
    * files a process touches; size in the key catches regenerated
    * fixtures. */
  private val footerCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Long]()

  def upperBound(df: DataFrame): Option[Long] =
    try bound(df.queryExecution.analyzed,
      df.sparkSession.sessionState.newHadoopConf())
    catch { case scala.util.control.NonFatal(_) => None }

  private def bound(plan: LogicalPlan,
      conf: org.apache.hadoop.conf.Configuration): Option[Long] = plan match {
    case Project(_, c) => bound(c, conf)
    case Filter(_, c) => bound(c, conf)
    case SubqueryAlias(_, c) => bound(c, conf)
    case h: ResolvedHint => bound(h.child, conf)
    case Sort(_, _, c, _) => bound(c, conf)
    case r: RepartitionOperation => bound(r.child, conf)
    case Window(_, _, _, c, _) => bound(c, conf)
    case Deduplicate(_, c) => bound(c, conf)
    case GlobalLimit(_, c) => bound(c, conf)
    case LocalLimit(_, c) => bound(c, conf)
    case j: Join =>
      import org.apache.spark.sql.catalyst.plans._
      // a left/inner equi-join whose BUILD side is a LocalRelation with
      // provably-distinct join keys is row-preserving (each probe row
      // matches at most one build row) — the enrich/lookup joins
      // (add-contextual-data: one db row per distinct selector) are
      // exactly this shape, so their bound is the probe side's bound.
      // Otherwise fall back to the cartesian-style product bound.
      def uniqueRightEquiKey: Boolean = j.condition match {
        case Some(org.apache.spark.sql.catalyst.expressions.EqualTo(x, y)) =>
          val rKey =
            if (y.references.subsetOf(j.right.outputSet) &&
              x.references.subsetOf(j.left.outputSet)) Some(y)
            else if (x.references.subsetOf(j.right.outputSet) &&
              y.references.subsetOf(j.left.outputSet)) Some(x)
            else None
          rKey match {
            case Some(a: org.apache.spark.sql.catalyst.expressions.Attribute) =>
              localKeyDistinct(j.right, a).contains(true)
            case _ => false
          }
        case _ => false
      }
      (bound(j.left, conf), bound(j.right, conf)) match {
        case (Some(lb), Some(rb)) => j.joinType match {
          case LeftSemi | LeftAnti => Some(lb)
          case Inner | LeftOuter if uniqueRightEquiKey => Some(lb)
          case Inner | Cross | LeftOuter =>
            if (lb > 0 && rb > 0 && lb > (Long.MaxValue / 4) / math.max(rb, 1L)) None
            else Some(lb * math.max(rb, 1L))
          case RightOuter =>
            if (lb > 0 && rb > 0 && rb > (Long.MaxValue / 4) / math.max(lb, 1L)) None
            else Some(rb * math.max(lb, 1L))
          case _ => None
        }
        case _ => None
      }
    case l: LocalRelation => Some(l.data.length.toLong)
    case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
      l.relation match {
        case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation
            if fs.fileFormat.isInstanceOf[
              org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat] =>
          val files = fs.location.listFiles(Nil, Nil).flatMap(_.files)
          val counts = files.map { f =>
            footerCache.computeIfAbsent(
              (f.getPath.toString, f.getLen), { _ =>
                val in = org.apache.parquet.hadoop.util.HadoopInputFile
                  .fromPath(f.getPath, conf)
                val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
                try r.getRecordCount finally r.close()
              })
          }
          Some(counts.sum)
        case _ => None
      }
    case _ => None
  }

  /** Some(true) iff `plan` bottoms out in a LocalRelation (through
    * aliases/hints/pass-through projections) whose values for `key` are
    * pairwise distinct. Null keys never match an equi-join, so
    * including them only makes the check stricter. */
  private def localKeyDistinct(plan: LogicalPlan,
      key: org.apache.spark.sql.catalyst.expressions.Attribute): Option[Boolean] =
    plan match {
      case SubqueryAlias(_, c) => localKeyDistinct(c, key)
      case h: ResolvedHint => localKeyDistinct(h.child, key)
      case Project(list, c) =>
        list.find(_.exprId == key.exprId) match {
          case Some(a: org.apache.spark.sql.catalyst.expressions.AttributeReference) =>
            localKeyDistinct(c, a)
          case Some(org.apache.spark.sql.catalyst.expressions.Alias(
              ar: org.apache.spark.sql.catalyst.expressions.AttributeReference, _)) =>
            localKeyDistinct(c, ar)
          case _ => None
        }
      case l: LocalRelation =>
        val idx = l.output.indexWhere(_.exprId == key.exprId)
        if (idx < 0) None
        else {
          // a join matches -0.0 to 0.0 and NaN to NaN (Spark normalizes
          // floating keys), but Scala's == never equates two NaNs: compare
          // floating keys by their normalized bits. Nested keys, which
          // may hold floats, are not judged.
          val dt = l.output(idx).dataType
          val vals = l.data.map(_.get(idx, dt) match {
            case d: Double => java.lang.Double.doubleToLongBits(d + 0.0)
            case f: Float => java.lang.Float.floatToIntBits(f + 0.0f)
            case v => v
          })
          import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
          dt match {
            case _: StructType | _: ArrayType | _: MapType => None
            case _ => Some(vals.distinct.length == vals.length)
          }
        }
      case _ => None
    }
}
