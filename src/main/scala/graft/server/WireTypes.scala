package graft.server

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, ExprId, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Except, Intersect, Union}
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Resolves which output columns of a query are TRUE UInt64 columns — i.e.
  * trace back, through the analyzed plan's aliases and projections, to a
  * scanned table column whose recorded ClickHouse type (`graft.ch.types`
  * table property, written at CREATE) is UInt64.
  *
  * Why lineage and not shape: UInt64 widens to Decimal(20,0) in Spark
  * (SURVEY §1.2), but Decimal(20,0) is also what `sum()` over a declared
  * Decimal(10,0) column produces (precision+10). Declaring such a sum
  * UInt64 on the wire would serialize the low 64 bits of the unscaled
  * value — negative totals would arrive as huge unsigned garbage. Shape
  * matching is only sound where the schema IS a declared table's schema
  * (the INSERT header-block path), because [[graft.types.BqlType]] caps
  * declarable decimals at precision 18, leaving the UInt64 widening as the
  * only way a table column can be Decimal(20,0).
  *
  * Anything this cannot prove to be UInt64 ships as String — lossless as
  * text, and honest about exceeding the reference's 8-byte decimal storage
  * (crates/meta/src/types.rs:145-153).
  */
object WireTypes {

  private val ChTypesProp = "graft.ch.types"

  /** The declared CH type each output column of `df` carries by identity
    * lineage (aliases and projections only: an expression OVER a declared
    * column — a cast, arithmetic, an aggregate — is no longer of its
    * type), from the `graft.ch.types` of every catalog-table scan in the
    * analyzed plan. Set-operation outputs carry none.
    */
  private def declaredLineage(df: DataFrame): Seq[(Attribute, Option[String])] = {
    val plan = df.queryExecution.analyzed

    // exprId -> declared CH type, for every catalog-table scan in the plan
    val declared = mutable.Map.empty[ExprId, String]
    // set-op outputs reuse their first child's exprIds while merging rows
    // from BOTH children — a matching exprId no longer proves provenance,
    // so poison them (conservative: such columns carry no declared type)
    val poisoned = mutable.Set.empty[ExprId]
    plan.foreach {
      case lr: LogicalRelation =>
        lr.catalogTable.foreach { ct =>
          val types = graft.exec.GraftSession.propMap(ct, ChTypesProp)
          lr.output.foreach(a => types.get(a.name).foreach(declared(a.exprId) = _))
        }
      case u: Union => u.output.foreach(poisoned += _.exprId)
      case i: Intersect => i.output.foreach(poisoned += _.exprId)
      case e: Except => e.output.foreach(poisoned += _.exprId)
      case _ => ()
    }
    if (declared.isEmpty) return plan.output.map(_ -> None)

    // alias exprId -> aliased expression, across the whole plan
    val aliases = mutable.Map.empty[ExprId, Expression]
    plan.foreach { node =>
      node.expressions.foreach(_.foreach {
        case a: Alias => aliases(a.exprId) = a.child
        case _ => ()
      })
    }
    def declaredOf(e: Expression, depth: Int): Option[String] = e match {
      case _ if depth > 64 => None // alias cycles cannot happen, but cap anyway
      case a: AttributeReference if poisoned.contains(a.exprId) => None
      case a: AttributeReference =>
        declared.get(a.exprId)
          .orElse(aliases.get(a.exprId).flatMap(declaredOf(_, depth + 1)))
      case al: Alias => declaredOf(al.child, depth + 1)
      case _ => None
    }
    plan.output.map(a => a -> declaredOf(a, 0))
  }

  /** Output positions of `df` that provably carry a declared-UInt64 table
    * column ([[declaredLineage]]).
    */
  def uint64Positions(df: DataFrame): Set[Int] =
    declaredLineage(df).zipWithIndex.collect { case ((_, Some("UInt64")), i) => i }.toSet

  /** Declared Enum and LowCardinality types for query-result columns, by
    * the same identity lineage as [[uint64Positions]]. Feeds the wire
    * writer's `declared` hook so `SELECT enum_col FROM t` ships as
    * Enum8/16('name' = code, ...) with int codes and `SELECT lc_col FROM t`
    * ships with CH's dict-block framing — exactly what a real ClickHouse
    * server sends for those declared types. Nullability comes from the
    * OUTPUT attribute (an outer join can null a NOT NULL source column).
    */
  def declaredWireTypes(df: DataFrame): Int => Option[graft.types.BqlType] = {
    import graft.types.BqlType
    // Enum ships Nullable-wrapped when the output attribute is nullable;
    // LowCardinality instead wraps its INNER type (CH has no
    // Nullable(LowCardinality) — the null slot lives in the dictionary)
    def wireOf(t: BqlType, nullable: Boolean): Option[BqlType] = t match {
      case e: BqlType.Enum =>
        Some(if (nullable) BqlType.Nullable(e) else e)
      case BqlType.Nullable(e: BqlType.Enum) => Some(BqlType.Nullable(e))
      case BqlType.LowCardinality(inner) =>
        val in2 = inner match {
          case n: BqlType.Nullable => n
          case other => if (nullable) BqlType.Nullable(other) else other
        }
        Some(BqlType.LowCardinality(in2))
      case _ => None
    }
    val byPos: Map[Int, BqlType] =
      declaredLineage(df).zipWithIndex.flatMap { case ((a, t), i) =>
        t.flatMap(BqlType.parse(_).toOption)
          .flatMap(wireOf(_, a.nullable))
          .map(i -> _)
      }.toMap
    byPos.get _
  }
}
