package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 Columns are ColumnNode-backed and the classic Column↔Expression
  * bridge (`org.apache.spark.sql.classic.ExpressionUtils`) is
  * `private[sql]` — the established pattern for extension libraries that
  * ship custom Catalyst expressions is a minimal adapter inside the
  * `org.apache.spark.sql` package namespace. This is the only file in the
  * project outside the `graft` namespace.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Unwrap a `col.desc` / `col.asc` sort-order Column to its plain
    * value column. Spark 4 Columns carry sort direction as a
    * ColumnNode-level `SortOrder` that only becomes a catalyst
    * SortOrder at analysis — so callers that need to reuse an orderBy
    * column inside a VALUE expression (e.g. hashing it for a window
    * partition key) must strip at the node level; the catalyst
    * expression bridge still sees an opaque node here. */
  def stripSortOrder(c: Column): Column = c.node match {
    case so: org.apache.spark.sql.internal.SortOrder => new Column(so.child)
    case _ => c
  }

  /** Idempotently install an extra planner strategy on the session. */
  def addStrategy(spark: SparkSession,
                  s: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!cs.experimental.extraStrategies.contains(s))
      cs.experimental.extraStrategies = cs.experimental.extraStrategies :+ s
  }

  /** DataFrame from a raw LogicalPlan (classic Dataset.ofRows is
    * private[sql]) — needed to inject custom logical nodes. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Eager LOCAL checkpoint that also returns the materialized row
    * count. `Dataset.localCheckpoint(eager = true)` already runs a
    * count() internally to materialize the blocks but discards the
    * number, so an iterative operator would pay a SECOND driver job
    * (`isEmpty`) per round just to learn whether the frontier drained.
    * This mirrors the classic checkpoint implementation — execute,
    * copy, localCheckpoint, count, rebuild as a LogicalRDD leaf via
    * `LogicalRDD.fromDataset` (private[sql], hence this bridge) — and
    * hands the count back: one action per round instead of two. Its
    * one caller is `graft.plans.CheckpointBlocks.checkpointCount`.
    *
    * Observability note (intentional): unlike `Dataset.localCheckpoint`,
    * the materializing count here runs OUTSIDE
    * `SQLExecution.withNewExecutionId`, so it carries no SQL execution
    * id — QueryExecutionListeners and the UI's SQL tab see the rounds'
    * checkpoint jobs as plain RDD jobs. `CheckpointBlocks.iterate` names
    * each of them by its job description, `<op> round k`, which is what
    * the job census and the UI's jobs tab show. The bench attributes
    * cost per QUERY via that census, not per SQL execution, and the
    * bridge stays free of the execution-id lifecycle. */
  def localCheckpointWithCount(df: DataFrame): (DataFrame, Long) = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val internalRdd = ds.queryExecution.toRdd.map(_.copy())
    internalRdd.localCheckpoint()
    val n = internalRdd.count()
    val out = org.apache.spark.sql.classic.Dataset.ofRows(
      ds.sparkSession,
      org.apache.spark.sql.execution.LogicalRDD
        .fromDataset(internalRdd, ds, isStreaming = false))
    (out, n)
  }
}
