package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

import graft.exec.GraftSession

/** ClickHouse's trivial count (`optimize_trivial_count_query`): a
  * `SELECT count() FROM t` is answered from part metadata, not by reading
  * a column. Every part here is a parquet file whose footer holds its row
  * count, so the rule rewrites
  *
  *   Aggregate(no grouping keys, every output `count(<non-null literal>)`,
  *             [attribute-only Projects over] a parquet LogicalRelation)
  *
  * into a one-row `LocalRelation` with the same output attributes (names,
  * ids and types unchanged, so every wire ships the same column types),
  * holding the sum of the footer row counts over `listFiles(Nil, Nil)` —
  * the file set the scan itself would read, for a plain `InMemoryFileIndex`
  * and a partitioned `CatalogFileIndex` alike. Zero-length files are
  * skipped, as the scan splits them into nothing. Footers come from the
  * engine's one memo ([[GraftSession.footerRows]]), so a part's footer is
  * read once while its length and mtime hold.
  *
  * The statement then runs no Spark job at all: its physical plan is a
  * `LocalTableScanExec` (only Spark's listing of more partition
  * directories than `spark.sql.sources.parallelPartitionDiscovery.threshold`
  * is a job of its own). When any footer cannot be read the plan is left
  * alone, so the scan raises the real error rather than a wrong number.
  * A filter (WHERE, FINAL's merge, SAMPLE), `count(col)`, `count(DISTINCT
  * ...)`, a FILTER clause, an in-memory leaf (temporary tables) or any
  * non-parquet source (`remote()`) never matches.
  */
case class TrivialCount(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg: Aggregate if agg.groupingExpressions.isEmpty &&
        agg.aggregateExpressions.nonEmpty &&
        agg.aggregateExpressions.forall(countsRows) =>
      agg.child match {
        case ParquetScan(fs) => rowCount(fs).map { n =>
          LocalRelation(agg.output,
            Seq(InternalRow.fromSeq(agg.aggregateExpressions.map(_ => n))))
        }.getOrElse(agg)
        case _ => agg
      }
  }

  /** `count(*)`/`count()`/`count(1)`: counts every row. */
  private def countsRows(e: NamedExpression): Boolean = e match {
    case Alias(ae: AggregateExpression, _) =>
      ae.mode == Complete && !ae.isDistinct && ae.filter.isEmpty &&
        (ae.aggregateFunction match {
          case Count(Seq(Literal(v, _))) => v != null
          case _ => false
        })
    case _ => false
  }

  /** A batch parquet relation under pure attribute selections (what column
    * pruning leaves between the aggregate and the scan). */
  private object ParquetScan {
    def unapply(p: LogicalPlan): Option[HadoopFsRelation] = p match {
      case Project(list, child) if list.forall(_.isInstanceOf[AttributeReference]) =>
        unapply(child)
      case lr: LogicalRelation if !lr.isStreaming => lr.relation match {
        case fs: HadoopFsRelation if fs.fileFormat.getClass == classOf[ParquetFileFormat] =>
          Some(fs)
        case _ => None
      }
      case _ => None
    }
  }

  /** Sum of the footer row counts of the files the scan would read, or
    * None when a footer cannot be read. */
  private def rowCount(fs: HadoopFsRelation): Option[Long] = {
    val files = fs.location.listFiles(Nil, Nil).flatMap(_.files)
      .filter(_.getLen > 0)
      .map(f => (f.getPath, f.getLen, f.getModificationTime))
    val root = fs.location.rootPaths.map(GraftSession.partRoot).sorted.mkString(",")
    val rows = GraftSession.footerRows(root, files,
      spark.sessionState.newHadoopConf())
    if (rows.forall(_.isDefined)) Some(rows.flatten.sum) else None
  }
}
