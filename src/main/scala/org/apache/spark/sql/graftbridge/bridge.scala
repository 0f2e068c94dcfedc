package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, ExpressionUtils, SparkSession => ClassicSession}

/** Minimal bridge into `private[sql]` API: converting between Column and
  * Catalyst Expression is package-private in Spark 4's classic module, and
  * custom native expressions (graft.functions.CosineSim) need both
  * directions; custom logical plans (graft.plans.AsOfJoin) additionally
  * need plan ↔ DataFrame; building a cache entry ahead of concurrent
  * readers needs the classic session's cache manager. This is the entire
  * private-API surface the library touches.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a (resolved) logical plan as a DataFrame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  /** The analyzed logical plan behind a DataFrame. */
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[ClassicDataset[Row]].queryExecution.analyzed

  /** Build `df`'s cache entry in one job, if it has one that is not yet
    * built. This is the job AQE runs for a cache stage; but AQE plans
    * that stage in every query that reads a cache not built yet, so
    * queries started side by side on a fresh cache would each run it.
    */
  def buildCache(df: DataFrame): Unit = {
    val ds = df.asInstanceOf[ClassicDataset[Row]]
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
      .map(_.cachedRepresentation.cacheBuilder)
      .filterNot(_.isCachedColumnBuffersLoaded)
      .foreach(b => ds.sparkSession.sparkContext.runJob(b.cachedColumnBuffers, (_: Iterator[_]) => ()))
  }

  /** Node names of a physical plan, traversed STRUCTURALLY — including
    * through AQE wrappers (AdaptiveSparkPlanExec holds its finalized
    * plan as a field, not a child) and materialized query stages — and
    * through expression subqueries. Exists because the obvious
    * alternative, parsing `executedPlan.toString`, renders every
    * embedded literal (PQ codebooks, projection matrices, vocabulary
    * arrays ride in plans as array literals here) into megabyte strings
    * per action; the traversal touches no expression rendering at all.
    */
  def physicalNodeNames(plan: org.apache.spark.sql.execution.SparkPlan)
      : Seq[String] = {
    val buf = scala.collection.mutable.Buffer.empty[String]
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
      buf += p.nodeName
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(q.plan)
        case r: org.apache.spark.sql.execution.ReusedSubqueryExec =>
          walk(r.child)
        case _ => ()
      }
      p.subqueries.foreach(walk)
      p.children.foreach(walk)
    }
    walk(plan)
    buf.toSeq
  }

  /** Block (bounded) until queued listener events are delivered — so a
    * bench's per-run shuffle-byte deltas include the run's own trailing
    * stage completions. `listenerBus` is private[spark]; this is the
    * same minimal-bridge justification as the Column/Expression pair.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext,
      timeoutMs: Long = 2000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: Throwable => () }
}
