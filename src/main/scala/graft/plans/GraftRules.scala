package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** The engine's Catalyst optimizer rules, in the one order every entry
  * point plans with: `Sessions.build`, each `GraftSession` handle (a bare
  * SparkSession or a server's `newSession()`) and `GraftExtensions`.
  *
  *   - [[PartitionPruneDerivation]]: `__ptk` predicates from filters on the
  *     partition-key source column;
  *   - [[CivilFieldRewrite]]: fixed-zone civil fields as integer arithmetic;
  *   - [[CivilPredicateUnwrap]]: monotone civil predicates as raw ranges —
  *     after CivilFieldRewrite, whose `EpochCivilField` form it matches;
  *   - [[ProjectionRoute]]: aggregates re-aggregate a projection's partials;
  *   - [[TrivialCount]]: `count()` over a parquet table from its footers;
  *   - [[ConstantSelect]]: a SELECT of literals as one driver-resident row.
  */
object GraftRules {
  val ordered: Seq[SparkSession => Rule[LogicalPlan]] = Seq(
    PartitionPruneDerivation(_), CivilFieldRewrite(_), CivilPredicateUnwrap(_),
    ProjectionRoute(_), TrivialCount(_), ConstantSelect(_))

  /** Appends to `spark`'s extra optimizations every rule it lacks, in
    * list order; a session that already holds them is left untouched. */
  def install(spark: SparkSession): Unit = synchronized {
    val have = spark.experimental.extraOptimizations
    val missing = ordered.map(_(spark))
      .filterNot(r => have.exists(_.getClass == r.getClass))
    if (missing.nonEmpty)
      spark.experimental.extraOptimizations = have ++ missing
  }

  /** The same rules, injected through `SparkSessionExtensions`. */
  def inject(ext: SparkSessionExtensions): Unit =
    ordered.foreach(ext.injectOptimizerRule(_))
}
