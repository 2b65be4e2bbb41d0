package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to `private[sql]` Column↔Expression converters, so graft's
  * native Catalyst expressions can surface as Columns without going
  * through the string SQL parser, and to the `private[spark]` state the
  * staging helpers below read. Lives in the spark.sql package for
  * visibility only.
  */
object GraftInternal {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a 1-row / 1-column DataFrame as an uncorrelated scalar
    * subquery expression. LAZY: nothing runs when the Column is built —
    * the subquery executes as its own (small) job when the FIRST action
    * on the enclosing plan runs, and its result is then inlined as a
    * constant in the generated code (one reference — NOT a per-row
    * copied column). Identical occurrences across the plan are
    * deduplicated by Spark's ReuseSubquery rule. This is exactly how
    * Spark's own InjectRuntimeFilter attaches a runtime bloom filter:
    * the filter-building aggregate rides the plan as a ScalarSubquery.
    * Operators whose plan SHAPE depends on a small data-derived value
    * (BloomJoin's sketch, SkewJoin's hot-key set) use this to stay
    * composable inside uncollected pipelines. */
  def scalarSubquery(df: Dataset[_]): Column =
    column(catalyst.expressions.ScalarSubquery(df.queryExecution.analyzed))

  /** The analyzed LogicalPlan behind a DataFrame — what an injected
    * TABLE function returns (SparkSessionExtensions.injectTableFunction
    * takes Seq[Expression] => LogicalPlan; graft's table-valued
    * operator wrappers build the operator DataFrame and hand its plan
    * to the analyzer). */
  def logicalPlan(df: Dataset[_]): catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** The RDDs `df`'s analyzed plan reads as checkpointed relations,
    * including those under a temp view (`spark.table(view)`). */
  def backingRdds(df: Dataset[_]): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }

  /** The call site `rdd` was created under (its short form). */
  def creationSite(rdd: RDD[_]): String = rdd.getCreationSite

  /** Free `rdd`'s blocks for good. Unlike `RDD.unpersist` this logs no
    * WARN when `rdd` is a local checkpoint: that warning ("its lineage
    * has been truncated and cannot be recomputed after unpersisting")
    * is for a caller who may read the RDD again, and to a caller who
    * drops a stage on purpose ([[graft.operators.Staging.free]]) it
    * only reads like a fault. The RDD's own storage level is left as
    * it was, so nothing may read or persist it afterwards. */
  def unpersistQuietly(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** Block until the async listener bus has delivered every queued
    * event (QueryExecutionListener callbacks included). Specs that
    * assert on listener-observed action counts use this instead of a
    * polled sleep, which can elapse on a stalled host before delivery. */
  def waitForListeners(spark: SparkSession, timeoutMs: Long = 60000L): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)
}
