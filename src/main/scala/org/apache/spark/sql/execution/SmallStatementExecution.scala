package org.apache.spark.sql.execution

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.{InternalRow, QueryPlanningTracker}
import org.apache.spark.sql.catalyst.expressions.{Attribute, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.datasources.{CatalogFileIndex, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** A statement's execution, planned by the size of its input. When every
  * leaf of the optimized plan (subqueries included) is a file or other
  * `BaseRelation`, driver-resident rows, `OneRowRelation` or `Range`, and
  * their bytes add up to at most `spark.sql.autoBroadcastJoinThreshold`
  * (the session's own "small enough to ship whole" bound; <= 0 turns the
  * routing off), the physical plan is built without AQE and with one
  * shuffle partition: AQE runs one job per shuffle stage, and a
  * one-partition range exchange samples nothing, so a `GROUP BY ...
  * ORDER BY` runs as one job instead of four. Any other statement plans
  * exactly as a plain QueryExecution.
  *
  * Both settings hold for this plan only, on the planning thread:
  * `InsertAdaptiveSparkPlan` reads the session conf itself, so AQE is
  * left out of the preparation rules rather than switched off, and the
  * partition count comes from a cloned conf installed thread-locally
  * while the plan is built. The session conf is never written.
  *
  * A one-job plan gets two more physical rules, for this statement only:
  *
  *  - `HoistFilterLiterals` (first): the non-null literals of every
  *    `FilterExec` condition whose type Spark writes into generated Java
  *    source become `HoistedLiteral`s, which generated code reads from a
  *    field set once from the class's references. The source, and so the
  *    compiled class in Spark's code cache, is then the same for every
  *    value of a statement's parameters: a new value compiles nothing.
  *    Scan filters (pushed and partition filters) keep their literals;
  *    strings and decimals are references already.
  *  - `PassOnePartitionExchanges` (last, after exchange reuse): every
  *    one-partition `ShuffleExchangeExec` is wrapped in a `OnePartitionExec`,
  *    which hands its parent the exchange's input unshuffled when that
  *    input already is one partition, so a `GROUP BY ... ORDER BY` over one
  *    file runs as one stage and one task. An input of 0 partitions (every
  *    file pruned) still goes through the exchange, which always yields
  *    one partition: a global aggregate must see it to return its row. The
  *    exchange stays the wrapper's child, not a field, so whatever walks
  *    the plan still sees it: `prepare` reaches the subqueries beneath
  *    it, EXPLAIN and the plan audits count it, and it can still run. An
  *    exchange that a `ReusedExchangeExec` reads is left as it is, so both
  *    readers share its one shuffle.
  */
class SmallStatementExecution(session: SparkSession, analyzedPlan: LogicalPlan,
                              tracker: QueryPlanningTracker)
    extends QueryExecution(session, analyzedPlan, tracker) {

  /** Decided once, from the optimized plan, when the plan is first built:
    * whether this statement's input is within the bound and its plan is
    * built as one job. */
  lazy val oneJob: Boolean = {
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
    if (oneJob) {
      import SmallStatementExecution._
      HoistFilterLiterals +:
        QueryExecution.preparations(sparkSession, None, subquery = false) :+
        PassOnePartitionExchanges
    } else super.preparations
}

object SmallStatementExecution {

  /** The literal types whose values `Literal.doGenCode` writes into the
    * generated source. */
  private def inlined(t: DataType): Boolean = t match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  object HoistFilterLiterals extends Rule[SparkPlan] {
    def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
      case f: FilterExec =>
        f.copy(condition = f.condition.transformUp {
          case Literal(v, t) if v != null && inlined(t) => HoistedLiteral(v, t)
        })
    }
  }

  object PassOnePartitionExchanges extends Rule[SparkPlan] {
    def apply(plan: SparkPlan): SparkPlan = {
      val reused = plan.collectWithSubqueries { case r: ReusedExchangeExec => r.child }
      def wrap(p: SparkPlan): SparkPlan = p match {
        case e: ShuffleExchangeExec if reused.exists(_ eq e) => e
        // not `e.numPartitions`: that builds the exchange's shuffle
        // dependency, executing its child while the plan is prepared
        case e: ShuffleExchangeExec if e.outputPartitioning.numPartitions == 1 =>
          OnePartitionExec(e.withNewChildren(e.children.map(wrap))
            .asInstanceOf[ShuffleExchangeExec])
        case _ => p.withNewChildren(p.children.map(wrap))
      }
      wrap(plan)
    }
  }

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
            case lr: LogicalRelation => Some(lr.relation match {
              case HadoopFsRelation(c: CatalogFileIndex, _, _, _, _, _) =>
                BigInt((c.filterPartitions(Nil).sizeInBytes * factor).toLong)
              // files by their listing, `system.parts` by its own estimate;
              // a relation with none reports spark.sql.defaultSizeInBytes
              case _ => lr.stats.sizeInBytes
            })
            case _: LocalRelation | _: OneRowRelation | _: Range =>
              Some(leaf.stats.sizeInBytes)
            case _ => None
          }
          bytes.map(sum + _)
        }
      }
  }
}

/** A one-partition exchange that moves no rows when its input is already
  * one partition: it returns that input as is, and runs the exchange
  * otherwise (more partitions, or none). Always one partition out.
  */
case class OnePartitionExec(child: ShuffleExchangeExec) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    // execute() is memoized per node: the exchange reuses this RDD
    val input = child.child.execute()
    if (input.getNumPartitions == 1) input else child.execute()
  }

  override protected def withNewChildInternal(newChild: SparkPlan): OnePartitionExec =
    copy(child = newChild.asInstanceOf[ShuffleExchangeExec])
}

/** A filter literal that generated code reads from the class's references
  * rather than from its source text, so one compiled class serves every
  * value. Evaluates, prints and renders as SQL like the literal itself.
  */
case class HoistedLiteral(value: Any, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false
  override def foldable: Boolean = true
  override def eval(input: InternalRow): Any = value
  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = ctx.addReferenceObj("literal", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "literal",
      v => s"$v = $boxed.${javaType}Value();", forceInline = true)
    ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.global(field, dataType))
  }
}
