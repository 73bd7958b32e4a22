package org.apache.spark.sql.execution

import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.datasources.{CatalogFileIndex, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.internal.SQLConf

/** A statement's execution, planned by the size of its input. When every
  * leaf of the optimized plan (subqueries included) is a file relation,
  * driver-resident rows, `OneRowRelation` or `Range`, and their bytes add
  * up to at most `spark.sql.autoBroadcastJoinThreshold` (the session's
  * own "small enough to ship whole" bound; <= 0 turns the routing off),
  * the physical plan is built without AQE and with one shuffle partition:
  * AQE runs one job per shuffle stage, and a one-partition range exchange
  * samples nothing, so a `GROUP BY ... ORDER BY` runs as one job instead
  * of four. Any other statement plans exactly as a plain QueryExecution.
  *
  * Both settings hold for this plan only, on the planning thread:
  * `InsertAdaptiveSparkPlan` reads the session conf itself, so AQE is
  * left out of the preparation rules rather than switched off, and the
  * partition count comes from a cloned conf installed thread-locally
  * while the plan is built. The session conf is never written.
  */
class SmallStatementExecution(session: SparkSession, analyzedPlan: LogicalPlan,
                              tracker: QueryPlanningTracker)
    extends QueryExecution(session, analyzedPlan, tracker) {

  /** Decided once, from the optimized plan, when the plan is first built. */
  private lazy val oneJob: Boolean = {
    val bound = sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    bound > 0 && SmallStatementExecution.inputBytes(sparkSession, optimizedPlan)
      .exists(_ <= bound)
  }

  private lazy val oneJobConf: SQLConf = {
    val conf = sparkSession.sessionState.conf.clone()
    conf.setConf(SQLConf.SHUFFLE_PARTITIONS, 1)
    conf
  }

  private def planned[T](plan: => T): T =
    if (oneJob) SQLConf.withExistingConf(oneJobConf)(plan) else plan

  override def sparkPlan: SparkPlan = planned(super.sparkPlan)
  override def executedPlan: SparkPlan = planned(super.executedPlan)

  override protected def preparations: Seq[Rule[SparkPlan]] =
    if (oneJob) QueryExecution.preparations(sparkSession, None, subquery = false)
    else super.preparations
}

object SmallStatementExecution {

  /** The bytes `plan` reads, or None when a leaf is not sized by its
    * files or rows. A partitioned table's `CatalogFileIndex` left
    * unpruned carries no size of its own (no catalog statistics), so it
    * is sized by listing every partition — the listing its scan makes
    * anyway, served from the index's file-status cache.
    */
  private def inputBytes(spark: SparkSession, plan: LogicalPlan): Option[BigInt] = {
    val factor = spark.sessionState.conf.fileCompressionFactor
    plan.collectWithSubqueries { case leaf: LeafNode => leaf }
      .foldLeft(Option(BigInt(0))) { (acc, leaf) =>
        acc.flatMap { sum =>
          val bytes = leaf match {
            case lr: LogicalRelation => lr.relation match {
              case fs: HadoopFsRelation => fs.location match {
                case c: CatalogFileIndex =>
                  Some(BigInt((c.filterPartitions(Nil).sizeInBytes * factor).toLong))
                case _ => Some(lr.stats.sizeInBytes)
              }
              case _ => None
            }
            case _: LocalRelation | _: OneRowRelation | _: Range =>
              Some(leaf.stats.sizeInBytes)
            case _ => None
          }
          bytes.map(sum + _)
        }
      }
  }
}
