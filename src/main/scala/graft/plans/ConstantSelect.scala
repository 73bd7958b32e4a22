package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, OneRowRelation, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** A constant SELECT (`SELECT 1`, `SELECT 'a' AS s, 2 + 3`) as one row on
  * the driver. After constant folding its plan is a Project of literals
  * over `OneRowRelation`, which Spark plans as a one-row RDD scan: one
  * Spark job per statement. As a `LocalRelation` it plans as a
  * `LocalTableScanExec`, whose rows reach every wire without a job
  * (`graft.server.ResultRows`) — what Spark's own `ConvertToLocalRelation`
  * does for a Project over a `LocalRelation`.
  */
case class ConstantSelect(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case Project(list, _: OneRowRelation) if list.forall {
        case Alias(_: Literal, _) => true
        case _ => false
      } =>
      LocalRelation(list.map(_.toAttribute), Seq(InternalRow.fromSeq(list.map {
        case Alias(l: Literal, _) => l.value
        case _ => null
      })))
  }
}
