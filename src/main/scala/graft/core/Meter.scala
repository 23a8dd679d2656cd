package graft.core

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.{GraftSparkBridge, SparkContext}
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** The engine's one SparkListener: what ran and how far along it is, the
  * observable the reference keeps in one packed atomic counter
  * (`getJobState`, `MapReduceFramework.cpp:383-402`). It is installed on a
  * SparkContext the first time a scope is opened there, and every reader
  * (JobTracker's progress, Profile's job table and task totals, the specs'
  * job budgets) reads a [[Scope]] of it.
  *
  * Scope rule: a scope is the value of a local property, so the threads
  * that inherit the opener's local properties (AQE's stage submitters, the
  * stream threads a scope starts) run in it too. [[measure]]'s scope is a
  * value of `graft.meter.scopes` (a comma list, so scopes nest) and meters
  * every job of its body. [[group]]'s scope is a job group: it meters
  * exactly the jobs whose `spark.jobGroup.id` is that group, which is
  * JobTracker's attribution. A stream started inside it runs its
  * micro-batches under the stream's own job group, so they are not its jobs.
  */
object Meter {
  private val ScopesKey = "graft.meter.scopes"

  /** One job of a scope. `site` is the result stage's name and the first
    * `graft.` frame of its call stack; a job AQE submits from its own thread
    * has no such frame and shows its SQL execution's description and frame
    * instead. The job description (streaming sets one per micro-batch)
    * follows. `stack` is the result stage's call stack, then the SQL
    * execution's.
    */
  final case class Job(id: Int, site: String, stack: String, started: Long,
                       ended: Long = -1L, stages: Int = 0, tasks: Int = 0)

  /** Task-metric sums over a scope's finished tasks. */
  final case class Tasks(runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
                         shuffleRead: Long = 0, shuffleWrite: Long = 0, spill: Long = 0)

  /** One submitted stage: whether it is a result stage (it writes no
    * shuffle; under AQE each shuffle map stage runs as a job of its own, so
    * "its job's last stage" would not tell), its task count, and how many
    * tasks started and ended.
    */
  final case class StageProgress(result: Boolean, total: Int = 0,
                                 started: Int = 0, completed: Int = 0)

  /** The jobs, stages and task totals metered under one key. The listener
    * thread is the only writer; readers see immutable snapshots.
    */
  final class Scope private[Meter] (private[Meter] val key: String, listener: Listener) {
    @volatile private var jobMap = Map.empty[Int, Job]
    @volatile private var stageMap = Map.empty[Int, StageProgress]
    @volatile private var stageJob = Map.empty[Int, (Int, Boolean)]
    @volatile private var taskSums = Tasks()
    @volatile private var open = true

    def jobs: Seq[Job] = jobMap.values.toSeq.sortBy(_.id)
    def stages: Seq[StageProgress] = stageMap.values.toSeq
    def tasks: Tasks = taskSums
    def isOpen: Boolean = open

    /** Stops metering; later events of its jobs are dropped. */
    def release(): Unit = { open = false; listener.scopes.remove(key) }

    private[Meter] def owns(stageId: Int): Boolean = stageJob.contains(stageId)

    private[Meter] def jobStarted(j: SparkListenerJobStart, site: String, stack: String): Unit = {
      jobMap += j.jobId -> Job(j.jobId, site, stack, j.time)
      stageJob ++= j.stageInfos.map(s => s.stageId -> ((j.jobId, !GraftSparkBridge.writesShuffle(s))))
    }

    private[Meter] def jobEnded(j: SparkListenerJobEnd): Unit =
      jobMap.get(j.jobId).foreach(r => jobMap += j.jobId -> r.copy(ended = j.time))

    private[Meter] def progress(stageId: Int)(f: StageProgress => StageProgress): Unit =
      stageMap += stageId -> f(stageMap.getOrElse(stageId, StageProgress(stageJob(stageId)._2)))

    private[Meter] def stageCompleted(s: StageInfo): Unit = {
      val jid = stageJob(s.stageId)._1
      jobMap.get(jid).foreach(r =>
        jobMap += jid -> r.copy(stages = r.stages + 1, tasks = r.tasks + s.numTasks))
    }

    private[Meter] def taskEnded(m: TaskMetrics): Unit =
      if (m != null) {
        val t = taskSums
        taskSums = Tasks(t.runMs + m.executorRunTime, t.cpuNs + m.executorCpuTime,
          t.gcMs + m.jvmGCTime, t.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
          t.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
          t.spill + m.diskBytesSpilled + m.memoryBytesSpilled)
      }
  }

  private final class Listener extends SparkListener {
    val scopes = new ConcurrentHashMap[String, Scope]()
    // running SQL execution -> (description, call stack)
    private val executions = new ConcurrentHashMap[Long, (String, String)]()

    private def owning(stageId: Int): Iterator[Scope] =
      scopes.values.iterator.asScala.filter(_.owns(stageId))

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => executions.put(x.executionId, (x.description, x.details))
      case x: SparkListenerSQLExecutionEnd => executions.remove(x.executionId)
      case _ =>
    }

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val prop = (k: String) => Option(j.properties).flatMap(p => Option(p.getProperty(k)))
      val keys = prop(ScopesKey).toSeq.flatMap(_.split(',')) ++ prop("spark.jobGroup.id")
      val mine = keys.flatMap(k => Option(scopes.get(k)))
      if (mine.nonEmpty) {
        val result = j.stageInfos.maxBy(_.stageId)
        val exec = prop("spark.sql.execution.id").flatMap(id => Option(executions.get(id.toLong)))
        val frame = graftFrame(result.details)
        val site = if (frame != "-") s"${result.name}  $frame"
          else exec.fold(s"${result.name}  -") { case (desc, stack) => s"$desc  ${graftFrame(stack)}" }
        val described = (site +: prop("spark.job.description").map(_.replace('\n', ' ')).toSeq)
          .mkString("  ")
        val stack = result.details + "\n" + exec.fold("")(_._2)
        mine.foreach(_.jobStarted(j, described, stack))
      }
    }

    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      scopes.values.forEach(_.jobEnded(j))

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      owning(e.stageInfo.stageId).foreach(_.progress(e.stageInfo.stageId)(
        _.copy(total = e.stageInfo.numTasks)))

    override def onTaskStart(e: SparkListenerTaskStart): Unit =
      owning(e.stageId).foreach(_.progress(e.stageId)(p => p.copy(started = p.started + 1)))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      owning(e.stageId).foreach { s =>
        s.progress(e.stageId)(p => p.copy(completed = p.completed + 1))
        s.taskEnded(e.taskMetrics)
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      owning(e.stageInfo.stageId).foreach(_.stageCompleted(e.stageInfo))
  }

  /** The first `graft.` frame of a call stack: the engine method that ran
    * the action, e.g. `graft.tables.Versioned$.readAt(LakeOps.scala:1667)`.
    */
  private def graftFrame(stack: String): String =
    stack.linesIterator.map(_.trim).find(_.startsWith("graft.")).getOrElse("-")

  private var installed: Option[(SparkContext, Listener)] = None

  private def open(sc: SparkContext, key: String): Scope = {
    val listener = synchronized {
      installed.collect { case (c, l) if c eq sc => l }.getOrElse {
        val l = new Listener
        sc.addSparkListener(l)
        installed = Some((sc, l))
        l
      }
    }
    val scope = new Scope(key, listener)
    listener.scopes.put(key, scope)
    scope
  }

  /** A scope of the jobs in job group `jobGroup`, open until [[Scope.release]]. */
  def group(sc: SparkContext, jobGroup: String): Scope = open(sc, jobGroup)

  /** Runs `body` in a new scope and returns the scope, released once the
    * listener bus has delivered the events of every job `body` ran.
    */
  def measure(sc: SparkContext)(body: => Any): Scope = {
    val scope = open(sc, java.util.UUID.randomUUID().toString)
    val outer = sc.getLocalProperty(ScopesKey)
    sc.setLocalProperty(ScopesKey, Option(outer).fold(scope.key)(o => s"$o,${scope.key}"))
    try body
    finally {
      sc.setLocalProperty(ScopesKey, outer)
      GraftSparkBridge.drainListenerBus(sc)
      scope.release()
    }
    scope
  }
}
