package graft

import graft.core.Meter
import graft.plans.TopKWindowRewrite
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base: one SparkSession per suite (guide: one per suite). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** The call stack of each Spark job `body` starts, on its own thread or
    * on threads that inherit its local properties (AQE stages, streams it
    * starts): the result stage's `details`, then those of the job's SQL
    * execution, since AQE submits a query's stages from a pool thread
    * whose stack holds no caller frame. Each call is one [[Meter]] scope,
    * so jobs still running from earlier tests are not counted.
    */
  def jobsDuring(body: => Unit): Seq[String] =
    Meter.measure(spark.sparkContext)(body).jobs.map(_.stack)

  def planNodes(df: DataFrame): Set[String] = SparkSpec.planNodes(df)

  def windowReference(df: => DataFrame): Seq[Row] = SparkSpec.windowReference(spark)(df)
}

object SparkSpec {
  private val aqe = new AdaptiveSparkPlanHelper {}

  /** Class names of the nodes of `df`'s final plan (run `df` first): the
    * adaptive plan's final stages, subqueries and the plans of cached
    * relations it scans included.
    */
  def planNodes(df: DataFrame): Set[String] = nodes(GraftSqlBridge.executedPlan(df))

  private def nodes(plan: SparkPlan): Set[String] =
    aqe.collectWithSubqueries(plan) {
      case c: InMemoryTableScanExec => nodes(c.relation.cachedPlan) + "InMemoryTableScanExec"
      case p => Set(p.getClass.getSimpleName)
    }.flatten.toSet

  /** The rows of `df` from Spark's own window plan: `TopKWindowRewrite` is
    * excluded through `spark.sql.optimizer.excludedRules` while `df` is
    * built and run on `spark`, and its plan must hold a `WindowExec`. The
    * reference the native TopKPerKey operator is checked against.
    */
  def windowReference(spark: SparkSession)(df: => DataFrame): Seq[Row] = {
    spark.conf.set("spark.sql.optimizer.excludedRules", TopKWindowRewrite.ruleName)
    try {
      val ref = df
      val rows = ref.collect().toSeq
      val found = planNodes(ref)
      org.scalatest.Assertions.assert(
        found.contains("WindowExec") && !found.exists(_.startsWith("TopKPerKey")),
        s"the reference is not Spark's window plan: ${found.toSeq.sorted.mkString(", ")}")
      rows
    } finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  // One session for the whole forked test JVM — suites share it.
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // the runtime entry points' no-chmod-fork local FS, plus driver-call
      // counting for the store's FS budgets (StoreCallBudgetSpec)
      .config("spark.hadoop.fs.file.impl", "graft.tables.CountingFileSystem")
      // graft's planner strategies and optimizer rules, as every engine
      // entry point registers them
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(s)
    s
  }
}
