package graft.server

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{LocalTableScanExec, SmallStatementExecution}

/** The rows of a SELECT's result, as every wire server streams them. */
object ResultRows {

  /** A result already on the driver — its executed plan is a
    * `LocalTableScanExec`: a constant or folded SELECT, a trivial count
    * answered from part footers — comes back through `collect`, which
    * reads the local rows and runs no Spark job (`LocalTableScanExec` has
    * no `executeToIterator` of its own, so `toLocalIterator` would
    * parallelize them into one). So does the result of a statement planned
    * as one job (`SmallStatementExecution.oneJob`): its input is bounded
    * by the broadcast threshold, and `collect` fetches every partition in
    * that one job where `toLocalIterator` would run one job per partition,
    * one after another. Any other result streams through
    * `toLocalIterator`, one partition at a time.
    */
  def of(df: DataFrame): Iterator[Row] = df.queryExecution match {
    case qe if qe.executedPlan.isInstanceOf[LocalTableScanExec] => df.collect().iterator
    case s: SmallStatementExecution if s.oneJob => df.collect().iterator
    case _ => df.toLocalIterator().asScala
  }
}
