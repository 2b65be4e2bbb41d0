package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.util.CallSite

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

  /** Free the block-manager storage behind a `localCheckpoint`ed
    * Dataset. `Dataset.unpersist` only knows CacheManager entries, so
    * checkpoint blocks otherwise live until the RDD is GC'd; iterative
    * operators (connected components) call this to drop each round's
    * blocks as soon as the next round is materialized. No-op for plans
    * that aren't RDD-backed. */
  def unpersistBackingRdd(df: Dataset[_]): Unit =
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** The RDDs `df`'s analyzed plan reads as checkpointed relations,
    * including those under a temp view (`spark.table(view)`). */
  def backingRdds(df: Dataset[_]): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }

  /** Free `rdd`'s blocks for good. Unlike `RDD.unpersist` this logs no
    * WARN when `rdd` is a local checkpoint: that warning ("its lineage
    * has been truncated and cannot be recomputed after unpersisting")
    * is for a caller who may read the RDD again, and to a caller who
    * drops staged rows on purpose (the REPL replacing `excel_rows`) it
    * only reads like a fault. The RDD's own storage level is left as
    * it was, so nothing may read or persist it afterwards. */
  def unpersistQuietly(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  private val runTags = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Run `body`; if it throws, unpersist every RDD it created that is
    * still persisted, then rethrow. An eager `localCheckpoint` persists
    * its RDD before the materializing job runs, so when that job fails
    * (a corrupt input) the RDD stays persisted and no handle to it
    * reaches the caller. The RDDs `body` created are told apart by a
    * call site unique to this run (`site` plus a counter), which also
    * names them in the Spark UI. */
  def unpersistOnFailure[T](sc: SparkContext, site: String)(body: => T): T = {
    val tag = s"$site #${runTags.incrementAndGet()}"
    val previous = sc.getLocalProperty(CallSite.SHORT_FORM)
    sc.setCallSite(tag)
    try body
    catch {
      case e: Throwable =>
        sc.getPersistentRDDs.values.filter(_.creationSite.shortForm == tag)
          .foreach(unpersistQuietly)
        throw e
    } finally sc.setLocalProperty(CallSite.SHORT_FORM, previous)
  }

  /** Block until the async listener bus has delivered every queued
    * event (QueryExecutionListener callbacks included). Specs that
    * assert on listener-observed action counts use this instead of a
    * polled sleep, which can elapse on a stalled host before delivery. */
  def waitForListeners(spark: SparkSession, timeoutMs: Long = 60000L): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)

  /** Cache state of `df`'s CacheManager entry:
    *  - `None`        — not cached (never persisted, or already freed);
    *  - `Some(false)` — persist() registered but no action has
    *                    materialized the column buffers yet;
    *  - `Some(true)`  — an action loaded the cached buffers.
    * [[graft.operators.Staged]] polls this from a QueryExecutionListener
    * to free intra-operator staging caches as soon as the action that
    * consumes them completes — "loaded" is exactly "the staged subtree
    * has been read", because the ONLY reader of an operator-private
    * staged frame is the operator's own plan. */
  def stagedCacheLoaded(df: Dataset[_]): Option[Boolean] = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    session.sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[classic.Dataset[_]])
      .map(_.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded)
  }
}
