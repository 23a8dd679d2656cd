package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into Spark's `private[sql]` Dataset factory, so graft's
  * custom logical operators (graft.plans) can be turned back into a
  * DataFrame. Lives in `org.apache.spark.sql` purely for access — the
  * standard pattern for out-of-tree Catalyst extensions; nothing here
  * depends on Spark internals beyond these stable entry points.
  */
object GraftSqlBridge {
  /** DataFrame over a (resolved) custom logical plan. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan of a DataFrame — the child our custom
    * operators attach to (already resolved, so attribute lookups by name
    * are exact).
    */
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** Final physical plan — for plan-shape assertions in tests/Explain. */
  def executedPlan(df: DataFrame): org.apache.spark.sql.execution.SparkPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.executedPlan

  /** Stable per-session identifier (`private[sql]` on the classic
    * session) — cache keys that must NOT retain the session object. Every
    * session this engine builds is classic; any other fails the cast.
    */
  def sessionUUID(spark: SparkSession): String =
    spark.asInstanceOf[classic.SparkSession].sessionUUID

  /** Deterministically release the cached RDD blocks behind a
    * `localCheckpoint()`-backed DataFrame. Dropping the last reference only
    * frees them via GC + ContextCleaner at some later point; an explicit
    * eviction pass (Bench between corpora) needs the blocks gone NOW, not
    * eventually. Walks the plan for the LogicalRDD the checkpoint produced
    * and unpersists its RDD; a no-op on plans with no checkpointed leaf.
    */
  def unpersistCheckpointed(df: DataFrame): Unit =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
