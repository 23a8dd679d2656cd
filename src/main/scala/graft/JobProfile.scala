package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Dev tool: per-JOB wall-clock attribution of one query's steady-state
  * invocation — where Profile.scala answers "how much", this answers "which
  * job". Runs the regex-selected queries `reps` times in a warmed session
  * and, for the LAST rep of each, prints every Spark job with its duration,
  * stage/task counts and callsite — the receipt that shows WHICH of a DML
  * lifecycle's actions (discovery join, rewrite write, stats scan, …) the
  * per-invocation seconds go to, plus the job-free driver gaps (manifest
  * I/O, commit fsync) as the remainder. The callsite column is the result
  * stage's name (`collect at Sinks.scala:45`) and the first `graft.` frame
  * of its call stack; a job that AQE submits from its own thread has no
  * such frame and shows its SQL execution's call site instead. A job
  * description, when set (streaming sets one per micro-batch), follows.
  * Usage:
  *   runMain graft.JobProfile <sfDir> <nameRegex> [reps=3]
  */
object JobProfile {
  private case class JobRec(id: Int, desc: String, started: Long,
                            var ended: Long = -1L, var stages: Int = 0,
                            var tasks: Int = 0)

  /** The first `graft.` frame of a call stack: the engine method that ran
    * the action, e.g. `graft.tables.Versioned$.readAt(LakeOps.scala:1667)`.
    */
  private def graftFrame(stack: String): String =
    stack.linesIterator.map(_.trim).find(_.startsWith("graft.")).getOrElse("-")

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val nameFilter = if (args.length > 1) args(1) else ".*"
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SessionEnv.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val sqlSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val recording = new java.util.concurrent.atomic.AtomicBoolean(false)
    def callSite(j: SparkListenerJobStart): String = {
      val result = j.stageInfos.maxBy(_.stageId)
      val prop = (k: String) => Option(j.properties).flatMap(p => Option(p.getProperty(k)))
      val frame = graftFrame(result.details)
      val site = if (frame != "-") s"${result.name}  $frame"
        else prop("spark.sql.execution.id").flatMap(id => Option(sqlSites.get(id.toLong)))
          .getOrElse(s"${result.name}  -")
      (site +: prop("spark.job.description").map(_.replace('\n', ' ')).toSeq).mkString("  ")
    }
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart if recording.get =>
          sqlSites.put(x.executionId, s"${x.description}  ${graftFrame(x.details)}")
        case _ =>
      }
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (recording.get) {
          jobs.put(j.jobId, JobRec(j.jobId, callSite(j), j.time))
          j.stageIds.foreach(s => stageToJob.put(s, j.jobId))
        }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val r = jobs.get(j.jobId)
        if (r != null) r.ended = j.time
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val jid = stageToJob.getOrDefault(s.stageInfo.stageId, -1)
        val r = jobs.get(jid)
        if (r != null) { r.stages += 1; r.tasks += s.stageInfo.numTasks }
      }
    })

    val qs = SparkEntry.queries.filter(_._1.matches(nameFilter)).toSeq.sortBy(_._1)
    qs.foreach { case (name, fn) =>
      (1 until reps).foreach { _ => fn(spark, sfDir).count() }
      org.apache.spark.GraftSparkBridge.drainListenerBus(spark.sparkContext)
      jobs.clear(); stageToJob.clear(); sqlSites.clear()
      recording.set(true)
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      recording.set(false)
      org.apache.spark.GraftSparkBridge.drainListenerBus(spark.sparkContext)
      println(f"\n===== $name steady-state rep: wall $wall%.3f s =====")
      import scala.jdk.CollectionConverters._
      val rs = jobs.values.asScala.toSeq.sortBy(_.started)
      var prevEnd = -1L
      var jobSum = 0.0
      rs.foreach { r =>
        val dur = (r.ended - r.started) / 1e3
        jobSum += math.max(0.0, dur)
        val gap = if (prevEnd > 0) f"${(r.started - prevEnd) / 1e3}%7.3f" else "      -"
        prevEnd = r.ended
        println(f"  job ${r.id}%4d ${dur}%7.3f s  gap-before $gap s  " +
          f"stages ${r.stages}%2d tasks ${r.tasks}%4d  ${r.desc.take(200)}")
      }
      println(f"  [${rs.size} jobs, job time $jobSum%.3f s, " +
        f"driver/gaps ${wall - jobSum}%.3f s]")
    }
    spark.stop()
  }
}
