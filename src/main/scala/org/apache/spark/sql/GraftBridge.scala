package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Minimal bridge into the `private[sql]` Column↔Expression converters —
  * the supported extension-point surface (classic.ExpressionUtils) is
  * package-private in Spark 4, so custom Catalyst expressions need this
  * one-file shim to be wrapped as user-facing Columns. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Release the block-manager storage behind a `localCheckpoint`ed frame.
    * Checkpoint RDDs are otherwise freed only when the JVM garbage-collects
    * the RDD object and the ContextCleaner notices — in an iterative loop
    * (PageRank) the superseded per-iteration checkpoints pile up for the
    * rest of the process. No-op for non-checkpoint frames. */
  def freeLocalCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }

  /** `df` with `rule` applied to its optimized plan, under `df`'s session
    * (so the rule reads that session's conf). The rule rewrites this one
    * plan only: nothing is injected into the session, so no later query
    * sees it. For rewrites whose soundness only the caller can vouch for
    * (see [[graft.plans.AsofJoinRule]]). */
  def withRule(df: DataFrame, rule: Rule[LogicalPlan]): DataFrame = {
    val s = classic.ClassicConversions.castToImpl(df.sparkSession)
    s.withActive(classic.Dataset.ofRows(s, rule(df.queryExecution.optimizedPlan)))
  }
}
