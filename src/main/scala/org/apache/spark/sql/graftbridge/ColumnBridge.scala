package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge.
  *
  * Spark 4 made the Column↔Expression converters `private[sql]`
  * (`classic.ExpressionUtils`); extension libraries that ship native
  * Catalyst expressions (our `StaticInvoke`-based codegen functions)
  * need exactly these two calls, so this one-file shim lives in an
  * `org.apache.spark.sql` subpackage — the conventional pattern for
  * Spark-native extension libraries. The few other private[spark] or
  * private[sql] reads below are each named in their scaladoc.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** An uncorrelated scalar subquery over `df` (must be one row, one
    * column), usable inside an ordinary Filter predicate — the shape
    * Spark's own runtime row-level filters use (InjectRuntimeFilter,
    * SPARK-32268). Why not a crossJoin(broadcast(oneRow)) + filter:
    * that encodes the prefilter as a JOIN, and the optimizer's
    * PushDownLeftSemiAntiJoin then legally reorders a downstream
    * semi/anti join BELOW it — the full probe shuffles before the
    * filter ever runs (measured: the Bloom prefilter saved zero bytes
    * in that shape). A subquery argument keeps the predicate a plain
    * Filter with no join to reorder past, so it pushes toward the
    * scan like any other predicate. */
  def scalarSubquery(df: org.apache.spark.sql.DataFrame): Column =
    ExpressionUtils.column(
      org.apache.spark.sql.catalyst.expressions.ScalarSubquery(
        df.queryExecution.analyzed))

  /** Free the block-manager storage behind an EAGER
    * `localCheckpoint()` Dataset — iterative loops (BPE's per-round
    * token frames) otherwise accumulate one dead block set per round
    * until GC notices, and the late rounds of a deep ladder pay the
    * memory pressure (measured: per-round wall ~2× by round 100).
    * Only call once every DOWNSTREAM checkpoint derived from `df` is
    * itself materialized: localCheckpoint truncates lineage, so the
    * freed blocks are unrecoverable. No-op on non-LogicalRDD plans.
    * Frees through `SparkContext.unpersistRDD` (private[spark], hence
    * the bridge) rather than `RDD.unpersist`, which WARNs on every
    * locally checkpointed RDD that its lineage cannot be recomputed —
    * the point of a deliberate free, not news. */
  def freeLocalCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.sparkContext.unpersistRDD(lr.rdd.id, blocking = false)
      case _ => ()
    }

  /** Register a table-valued function into THIS session's registry —
    * the imperative twin of `SparkSessionExtensions.injectTableFunction`
    * for sessions built without extensions (`tableFunctionRegistry` is
    * private[sql], hence the bridge). Re-registration overwrites, so
    * the call is idempotent. */
  def registerTableFunction(spark: org.apache.spark.sql.SparkSession,
      fn: (org.apache.spark.sql.catalyst.FunctionIdentifier,
        org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
        Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan))
      : Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.tableFunctionRegistry
      .registerFunction(fn._1, fn._2, fn._3)

  /** True iff the session's CacheManager holds no cached plans —
    * `sharedState` is private[sql], and cache-hygiene tests (composed
    * iterative queries must leak zero cached blocks) need exactly this
    * read. RDD-level persistent blocks (localCheckpoint) are NOT
    * counted: those release on GC by design. */
  def cacheIsEmpty(spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty
}
