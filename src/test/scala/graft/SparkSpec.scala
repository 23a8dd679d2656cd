package graft

import graft.core.Meter
import org.apache.spark.sql.SparkSession
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
}

object SparkSpec {
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
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(s)
    s
  }
}
