package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` surface: Column <-> Expression conversion
  * (org.apache.spark.sql.classic.ExpressionUtils). Needed to splice a
  * typed Aggregator (functions.udaf -> Column) into a Catalyst
  * FunctionRegistry builder, which deals in raw Expressions — Spark 4
  * removed the public Column(expr) constructor.
  */
object GraftSqlBridge {
  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)
  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)

  /** A typed Aggregator applied to raw child Expressions, as the
    * AggregateExpression a FunctionRegistry builder must return. The
    * udaf()->Column route produces a lazy ColumnNodeExpression that only
    * the Dataset API's converter resolves — inside the registry it
    * reaches codegen unresolved ([INTERNAL_ERROR] Cannot generate code).
    */
  def typedAggExpression[IN, BUF, OUT](
      agg: expressions.Aggregator[IN, BUF, OUT],
      inputEncoder: Encoder[IN],
      children: Seq[Expression]): Expression = {
    val uda = expressions.UserDefinedAggregator(agg, inputEncoder)
    execution.aggregate.ScalaAggregator(uda, children).toAggregateExpression()
  }

  /** A thread-confined external `Row` -> `InternalRow` converter for
    * `schema`. `createDataFrame(rows.asJava, schema)` performs this
    * conversion single-threaded on the DRIVER at plan time — ~3 s for
    * 600k narrow rows, the actual wire-ingest bottleneck (PERF.md r19).
    * Handing each wire connection its own converter moves that cost onto
    * the parallel decode threads. The returned rows are defensive copies
    * (the underlying serializer reuses one UnsafeRow buffer).
    */
  def rowSerializer(
      schema: types.StructType): Row => catalyst.InternalRow = {
    val ser = catalyst.encoders.ExpressionEncoder(
      catalyst.encoders.RowEncoder.encoderFor(schema)).createSerializer()
    r => ser(r).copy()
  }

  /** A codegen'd ascending ordering over `keys` for in-memory sorting of
    * Catalyst rows — keeps direct-written ingest parts sorted by the
    * table's sorting key (the MergeTree part invariant) without a Spark
    * sort job.
    */
  def internalOrdering(schema: types.StructType,
                       keys: Seq[String]): Ordering[catalyst.InternalRow] = {
    val attrs = catalyst.types.DataTypeUtils.toAttributes(schema)
    val byName = attrs.map(a => a.name -> a).toMap
    val so = keys.flatMap(byName.get).map(a =>
      catalyst.expressions.SortOrder(a, catalyst.expressions.Ascending))
    catalyst.expressions.codegen.GenerateOrdering.generate(so, attrs)
  }

  /** A DataFrame over already-Catalyst rows: a `LocalRelation` leaf, no
    * further driver-side conversion. Scans parallelize across the local
    * scheduler like any other leaf.
    */
  def internalLocalDf(spark: SparkSession,
                      schema: types.StructType,
                      rows: Seq[catalyst.InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      catalyst.plans.logical.LocalRelation(
        catalyst.types.DataTypeUtils.toAttributes(schema), rows))

  /** `cols` resolved once against `schema` and bound to its ordinals, so
    * the driver can evaluate them row by row over already-Catalyst rows
    * (partition keys and CHECK constraints of a direct part write) with
    * no query plan per block. None when an expression cannot be
    * evaluated outside a plan (it needs an optimizer rule beyond the
    * runtime-replaceable rewrite, e.g. a subquery).
    */
  def boundExpressions(spark: SparkSession, schema: types.StructType,
                       cols: Seq[Column]): Option[Seq[Expression]] = {
    val analyzed = internalLocalDf(spark, schema, Nil).select(cols: _*)
      .queryExecution.analyzed
    catalyst.optimizer.ReplaceExpressions(analyzed) match {
      case catalyst.plans.logical.Project(list, child) =>
        val bound = list.map { e =>
          val body = e match {
            case a: catalyst.expressions.Alias => a.child
            case other => other
          }
          catalyst.expressions.BindReferences.bindReference(body, child.output)
        }
        val evaluable = !bound.exists(_.exists {
          case _: catalyst.expressions.Unevaluable => true
          case _ => false
        })
        if (evaluable) Some(bound) else None
      case _ => None
    }
  }

  /** Run `df` and return its rows as Catalyst rows, under a SQL execution
    * id like any Dataset action — for results bounded by a driver-resident
    * block (a materialized view's SELECT over one insert).
    */
  def collectInternal(df: DataFrame): Seq[catalyst.InternalRow] = {
    val qe = df.queryExecution
    execution.SQLExecution.withNewExecutionId(qe, Some("collect"))(
      qe.executedPlan.executeCollect().toSeq)
  }

  /** `df` re-planned per statement by size: a statement whose input is
    * provably small plans as a single Spark job (see
    * [[execution.SmallStatementExecution]]), any other exactly as the
    * session says. The decision and the planning stay lazy — they run
    * when the result is first planned or consumed, on the consuming
    * thread — and the session conf is never written. Consume the
    * returned Dataset itself: a Dataset derived from it plans afresh.
    */
  def planSmall(df: DataFrame): DataFrame = {
    val from = df.queryExecution
    val spark = from.sparkSession
    spark.withActive {
      val qe = new execution.SmallStatementExecution(spark, from.analyzed, from.tracker)
      qe.assertAnalyzed()
      new classic.Dataset[Row](qe,
        () => catalyst.encoders.RowEncoder.encoderFor(qe.analyzed.schema))
    }
  }
}
