package graft.plans

import java.util.Locale

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.LongType

/** ClickHouse projection routing, the Catalyst way. A table with
  * `ALTER TABLE t ADD PROJECTION p (SELECT k, sum(v) AS sv GROUP BY k)`
  * carries `graft.proj.*` properties (GraftSession.addProjection); this rule
  * rewrites a matching aggregate over the parent —
  *
  *   Aggregate(keys ⊆ projection keys,
  *             sum/min/max/count over projected columns,
  *             [Filter referencing only projection keys] over t)
  *
  * — into the same aggregate over the hidden pre-aggregated table,
  * RE-AGGREGATING the per-block partials the MV insert-fanout stored
  * (sum→sum of sums, count→sum of counts, min/max→min/max of partials —
  * CH's AggregatingMergeTree merge semantics). Output attribute ids, names
  * and types are preserved (Alias onto the original exprIds; sums cast back
  * to the original result type), so the surrounding plan is untouched.
  *
  * At 100 TB the win is the one CH built projections for: a group-by that
  * would scan the fact table scans a table the size of its key cardinality
  * instead. Disable per session with `spark.graft.useProjections=false`.
  */
object ProjectionRoute {
  /** Per-thread routing bypass: a projection REBUILD's defining SELECT is
    * itself a matching aggregate over the parent — routed, it would read
    * the very partials it is replacing (found by ProjectionSpec: the
    * rebuild silently re-wrote the stale pre-mutation sums). Thread-local,
    * not a session conf: Verify plans queries concurrently in one session.
    */
  val bypass: ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial(() => java.lang.Boolean.FALSE)
}

case class ProjectionRoute(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (ProjectionRoute.bypass.get() ||
        // only an explicit "false" disables; a malformed value must not
        // throw inside the optimizer and fail every query in the session
        spark.conf.getOption("spark.graft.useProjections")
          .exists(_.trim.equalsIgnoreCase("false")))
      plan
    else plan.transform {
      case agg: Aggregate => route(agg).getOrElse(agg)
    }

  /** Optional pruning Projects and one optional Filter over the parent
    * relation. Projects must be pure attribute selections (what column
    * pruning emits) so stripping them loses nothing.
    */
  private object ParentScan {
    def unapply(p: LogicalPlan): Option[(Option[Expression], LogicalRelation)] =
      p match {
        case rel: LogicalRelation => Some((None, rel))
        case Project(exprs, child) if exprs.forall(_.isInstanceOf[AttributeReference]) =>
          unapply(child)
        case Filter(cond, child) => unapply(child).flatMap {
          case (None, rel) => Some((Some(cond), rel))
          case _ => None // two filters: out of the supported shape
        }
        case _ => None
      }
  }

  private case class ProjMeta(name: String, table: String,
                              // lowercased parent col -> projection col
                              keys: Map[String, String],
                              sums: Map[String, String],
                              mins: Map[String, String],
                              maxs: Map[String, String],
                              countStar: Option[String],
                              countCols: Map[String, String])

  private def projMetas(rel: LogicalRelation): Seq[ProjMeta] =
    rel.catalogTable.toSeq.flatMap { ct =>
      ct.properties.get("graft.proj.list").toSeq
        .flatMap(_.split(",").filter(_.nonEmpty)).flatMap { p =>
          ct.properties.get(s"graft.proj.$p.table")
            .filter(_ => ct.properties.contains(s"graft.proj.$p.map")).map { tbl =>
              val entries = graft.exec.GraftSession.projEntries(ct, p)
              def pick(kind: String) = entries.collect {
                case (out, k, src) if k == kind =>
                  src.toLowerCase(Locale.ROOT) -> out
              }.toMap
              ProjMeta(p, tbl, pick("key"), pick("sum"), pick("min"), pick("max"),
                entries.collectFirst { case (out, "count", _) => out },
                pick("countcol"))
            }
        }
    }

  private def route(agg: Aggregate): Option[LogicalPlan] = agg.child match {
    case ParentScan(cond, rel) if rel.catalogTable.exists(
        _.properties.contains("graft.proj.list")) =>
      val db = rel.catalogTable.get.identifier.database
      projMetas(rel).view.flatMap(m => tryOne(agg, cond, m, db)).headOption
    case _ => None
  }

  private def lc(s: String) = s.toLowerCase(Locale.ROOT)

  private def tryOne(agg: Aggregate, cond: Option[Expression], m: ProjMeta,
                     db: Option[String]): Option[LogicalPlan] = {
    // group keys: plain parent columns, all present as projection keys
    val groupCols = agg.groupingExpressions.map {
      case ar: AttributeReference if m.keys.contains(lc(ar.name)) => ar
      case _ => return None
    }
    // the filter may touch projection KEY columns only (its evaluation on
    // the pre-aggregated rows is then identical to the per-row evaluation)
    if (cond.exists(_.references.exists(a => !m.keys.contains(lc(a.name)))))
      return None
    // a filter with a non-deterministic or subquery piece stays on the scan
    if (cond.exists(c => !c.deterministic ||
        c.exists(_.isInstanceOf[PlanExpression[_]])))
      return None

    val projDf =
      try spark.table(db.map(d => s"`$d`.`${m.table}`").getOrElse(s"`${m.table}`"))
      catch { case _: Exception => return None }
    val projRel = projDf.queryExecution.analyzed.collectFirst {
      case r: LogicalRelation => r
    }.getOrElse(return None)
    def projAttr(out: String): Option[AttributeReference] =
      projRel.output.collectFirst {
        case a: AttributeReference if a.name == out => a
      }

    // One aggregate call, re-aggregated over the projection's partials —
    // or None if the projection doesn't store it.
    def mapAggCall(ae: AggregateExpression): Option[Expression] = {
      if (ae.isDistinct || ae.filter.isDefined) return None
      ae.aggregateFunction match {
        case s @ Sum(ar: AttributeReference, _) =>
          m.sums.get(lc(ar.name)).flatMap(projAttr).map { p =>
            val re = s.copy(child = p).toAggregateExpression()
            if (re.dataType == ae.dataType) re else Cast(re, ae.dataType)
          }
        case Min(ar: AttributeReference) =>
          m.mins.get(lc(ar.name)).flatMap(projAttr)
            .map(p => Min(p).toAggregateExpression())
        case Max(ar: AttributeReference) =>
          m.maxs.get(lc(ar.name)).flatMap(projAttr)
            .map(p => Max(p).toAggregateExpression())
        case c: Count => (c.children match {
          // COUNT(NULL) is always 0, never the group row count
          case Seq(Literal(v, _)) if v != null => m.countStar
          case Seq(ar: AttributeReference) => m.countCols.get(lc(ar.name))
          case _ => None
        }).flatMap(projAttr).map(p =>
          // count is non-null; sum-of-counts over zero rows is null
          KnownNotNull(Coalesce(Seq(
            Sum(p).toAggregateExpression(), Literal(0L, LongType)))))
        case _ => None
      }
    }

    // Rewrite one output expression tree: aggregate calls map to partial
    // re-aggregations, bare columns must be projection keys, and any scalar
    // post-processing (casts, round, arithmetic) carries over untouched.
    def mapOut(e: Expression): Option[Expression] = e match {
      case ae: AggregateExpression => mapAggCall(ae)
      case ar: AttributeReference =>
        m.keys.get(lc(ar.name)).flatMap(projAttr)
      case other =>
        val kids = other.children.map(mapOut)
        if (kids.exists(_.isEmpty)) None
        else Some(other.withNewChildren(kids.map(_.get)))
    }

    // map each output expression; bail (None) on anything unsupported
    val mapped: Seq[NamedExpression] = agg.aggregateExpressions.map {
      case ar: AttributeReference =>
        val p = m.keys.get(lc(ar.name)).flatMap(projAttr).getOrElse(return None)
        Alias(p, ar.name)(exprId = ar.exprId)
      case al @ Alias(expr, name) =>
        Alias(mapOut(expr).getOrElse(return None), name)(exprId = al.exprId)
      case _ => return None
    }

    val newGroupings = groupCols.map(ar => projAttr(m.keys(lc(ar.name)))
      .getOrElse(return None))
    val newCond = cond.map(_.transformUp {
      case ar: AttributeReference =>
        projAttr(m.keys(lc(ar.name))).getOrElse(return None)
    })
    val child = newCond.map(Filter(_, projRel)).getOrElse(projRel)
    Some(Aggregate(newGroupings, mapped, child))
  }
}
