package graft

import org.apache.spark.GraftSparkBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
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
    * whose stack holds no caller frame. A per-call local property tags
    * the jobs, so jobs still running from earlier tests are not counted.
    */
  def jobsDuring(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val key = "graft.spec.jobsDuring"
    val tag = java.util.UUID.randomUUID().toString
    val executions = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => executions.put(x.executionId, x.details)
        case _ =>
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val prop = (k: String) => Option(j.properties).flatMap(p => Option(p.getProperty(k)))
        if (prop(key).contains(tag)) seen.add(j.stageInfos.maxBy(_.stageId).details + "\n" +
          prop("spark.sql.execution.id").flatMap(id => Option(executions.get(id.toLong))).getOrElse(""))
      }
    }
    sc.addSparkListener(listener)
    val prev = sc.getLocalProperty(key)
    sc.setLocalProperty(key, tag)
    try body
    finally {
      sc.setLocalProperty(key, prev)
      GraftSparkBridge.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }
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
      // same no-chmod-fork local FS as the runtime entry points
      .config("spark.hadoop.fs.file.impl", "graft.sources.FastLocalFileSystem")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(s)
    s
  }
}
