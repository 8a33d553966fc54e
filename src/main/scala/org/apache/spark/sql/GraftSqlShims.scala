package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the sql-package-private Column ↔ catalyst Expression
  * converters (Spark 4 moved `Column` onto ColumnNode; the classic
  * converters are `private[sql]`). Standard extension-library shim —
  * the only file outside the `graft` package.
  */
object GraftSqlShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Eagerly convert a Column's node tree to a catalyst Expression
    * (possibly containing `Unresolved*` nodes for the analyzer to
    * resolve). [[expression]] wraps API-built Columns in a LAZY
    * `ColumnNodeExpression` leaf, which is fine inside a Dataset
    * transformation but unevaluable when handed straight to the
    * function registry — a SQL call site needs the real tree.
    */
  def analyzableExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** Logical plan of a (classic) DataFrame — used to register DataFrame-
    * built relations as SQL table-valued functions.
    */
  def logicalPlan(df: Dataset[_]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.logical

  /** DataFrame over an arbitrary logical plan (the private
    * `Dataset.ofRows`) — lets optimizer rules build replacement subplans
    * with the public DataFrame API and splice the ANALYZED result back.
    */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Analyzed plan of a DataFrame (attribute-resolved, pre-optimizer). */
  def analyzedPlan(df: Dataset[_]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** Java-serializable wrapper for a Hadoop Configuration
    * (`org.apache.spark.util.SerializableConfiguration` is
    * `private[spark]`) — lets DSv2 partitions/factories carry the
    * SESSION Hadoop conf to executors instead of re-reading a bare
    * `new Configuration()` that would drop fs credentials / defaultFS
    * overrides the session set.
    */
  def serializableConf(conf: org.apache.hadoop.conf.Configuration)
      : org.apache.spark.util.SerializableConfiguration =
    new org.apache.spark.util.SerializableConfiguration(conf)

  /** Block until every listener has handled every event posted so far
    * (the `LiveListenerBus` is `private[spark]`); fails after 60 s.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)

  /** The query behind a SQL execution's end event, with its duration in
    * ns and its failure, for the executions a `QueryExecutionListener`
    * is told of (named Dataset actions), from any session: the event's
    * fields are `private[sql]`, and a listener manager only hears its
    * own session's executions.
    */
  def executionEnd(e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd)
      : Option[(org.apache.spark.sql.execution.QueryExecution, Long, Option[Throwable])] =
    if (e.executionName.isDefined && e.qe != null) Some((e.qe, e.duration, e.executionFailure))
    else None
}
