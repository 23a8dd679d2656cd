package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Benchmark-side tracing, attached from outside the engine.
  *
  * A SparkListener records SQL executions, jobs and stages (with per-stage
  * sums of task metrics); a QueryExecutionListener records Catalyst phase
  * times and scan/write node metrics; a StreamingQueryListener records
  * micro-batches. Records stay in memory. After each op the caller drains
  * the listener bus and calls [[take]], which hands back everything the op
  * caused, so every span carries the op's id.
  */
final class Tracer(spark: SparkSession) {
  private val buf = mutable.ArrayBuffer.empty[String]
  private def emit(s: String): Unit = buf.synchronized { buf += s }

  private val stageJob = mutable.Map.empty[Int, Int]                  // stage -> job
  private val jobStart = mutable.Map.empty[Int, (Long, Long)]         // job -> (start, execution)
  private val stageSums = mutable.Map.empty[(Int, Int), Array[Long]]  // (stage, attempt) -> SumNames

  /** Per-stage task metrics: sums, except the last, a maximum over tasks. */
  private val SumNames = Seq("tasks", "run_ms", "cpu_ns", "gc_ms", "deser_ms",
    "sr_bytes", "sr_records", "fetch_wait_ms", "sw_bytes", "sw_records",
    "spill_disk", "spill_mem", "in_bytes", "in_records", "out_bytes",
    "out_records", "max_sr_bytes")

  private val sparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        emit(s"""{"k":"exec_start","id":${s.executionId},"t":${s.time}}""")
      case s: SparkListenerSQLExecutionEnd =>
        emit(s"""{"k":"exec_end","id":${s.executionId},"t":${s.time}}""")
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val exec = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).getOrElse("-1")
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      jobStart(e.jobId) = (e.time, exec.toLong)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, exec) =>
        emit(s"""{"k":"job","id":${e.jobId},"exec":$exec,"t0":$t0,"t1":${e.time}}""")
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val a = stageSums.getOrElseUpdate((e.stageId, e.stageAttemptId),
          new Array[Long](SumNames.size))
        val sr = m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        val v = Array(1L, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.executorDeserializeTime, sr, m.shuffleReadMetrics.recordsRead,
          m.shuffleReadMetrics.fetchWaitTime, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleWriteMetrics.recordsWritten, m.diskBytesSpilled,
          m.memoryBytesSpilled, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten, sr)
        var i = 0
        while (i < v.length - 1) { a(i) += v(i); i += 1 }
        a(i) = math.max(a(i), v(i))
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val sums = stageSums.remove((si.stageId, si.attemptNumber()))
        .getOrElse(new Array[Long](SumNames.size))
      val fields = SumNames.zip(sums).map { case (n, x) => s""""$n":$x""" }.mkString(",")
      val job = stageJob.getOrElse(si.stageId, -1)
      emit(s"""{"k":"stage","id":${si.stageId},"job":$job,""" +
        s""""t0":${si.submissionTime.getOrElse(0L)},"t1":${si.completionTime.getOrElse(0L)},""" +
        s""""shuffle_map":${org.apache.spark.PerfbenchBridge.isShuffleMap(si)},$fields}""")
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    val nodes = try planNodes(qe.executedPlan) catch { case _: Throwable => Seq.empty }
    def metric(n: SparkPlan, k: String): Long = n.metrics.get(k).map(_.value).getOrElse(0L)
    val filesRead = nodes.filter(n => n.nodeName.contains("Scan")).map(metric(_, "numFiles")).sum
    emit(s"""{"k":"qe","t":${System.currentTimeMillis()},"analysis_ms":${ms("analysis")},""" +
      s""""optimization_ms":${ms("optimization")},"planning_ms":${ms("planning")},""" +
      s""""files_read":$filesRead}""")
  }

  /** Every physical node, looking through AQE wrappers and subqueries. */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children ++ p.subqueries
    }
    p +: inner.flatMap(planNodes)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      emit(s"""{"k":"stream_start","t":${System.currentTimeMillis()}}""")
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      emit(s"""{"k":"batch","dur_ms":${p.batchDuration},"rows":${p.numInputRows}}""")
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    take()
  }

  /** Drains the bus and returns (and forgets) every record since the last call. */
  def take(): Seq[String] = {
    org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
    buf.synchronized { val out = buf.toList; buf.clear(); out }
  }
}
