package graft.core

import scala.concurrent.{Await, Future, ExecutionContext}
import scala.concurrent.duration.Duration
import org.apache.spark.sql.SparkSession

/** Job lifecycle + progress introspection — the one place we faithfully mirror
  * the reference's API *shape*, because `getJobState` (stage + percentage) is a
  * genuine observable capability (reference `MapReduceFramework.h:6-27`,
  * `getJobState` `MapReduceFramework.cpp:383-402`).
  *
  * Mapping (SURVEY.md §7 M1.2): Spark stages don't map 1:1 onto
  * MAP/SHUFFLE/REDUCE, so shuffle-map-stage tasks report as MAP, result-stage
  * tasks as REDUCE, and the transition between them as SHUFFLE. Percentage is
  * completed/total tasks of the current phase. A handle never reports below
  * the last state it reported, ordered by phase and then percentage, like the
  * reference's packed-atomic counter: AQE submits stages as it goes, so a
  * later map stage would otherwise pull the map percentage back. (The
  * counter's +2 overshoot quirk and mid-sort "MAP 100%" reading we
  * deliberately do not replicate, SURVEY.md §2.1.)
  */
object JobTracker {

  sealed abstract class Stage(val name: String)
  case object UNDEFINED extends Stage("UNDEFINED")
  case object MAP       extends Stage("MAP")
  case object SHUFFLE   extends Stage("SHUFFLE")
  case object REDUCE    extends Stage("REDUCE")

  /** ≡ reference `JobState{stage, percentage}` (`MapReduceFramework.h:10-13`). */
  final case class JobState(stage: Stage, percentage: Float)

  /** Opaque handle ≡ reference `JobHandle` (`MapReduceFramework.h:6`):
    * async start, poll `getJobState`, idempotent `waitForJob`, `close`.
    * Its progress is the [[Meter]] scope of the action's job group, which is
    * released when the action returns (or fails) with the state frozen at
    * REDUCE 100, so a handle that is never closed holds nothing.
    */
  final class JobHandle[T] private[JobTracker] (scope: Meter.Scope, future: Future[T]) {
    private var last = JobState(UNDEFINED, 0f)

    def getJobState: JobState = synchronized {
      val now = if (scope.isOpen) phase(scope.stages) else JobState(REDUCE, 100f)
      if (progressOrder.gt(now, last)) last = now
      last
    }

    /** Blocks until the job finishes; idempotent like the reference's
      * first-waiter-joins contract (`MapReduceFramework.cpp:355-381`).
      */
    def waitForJob(): T = Await.result(future, Duration.Inf)

    /** ≡ `closeJobHandle` (`MapReduceFramework.cpp:404-414`): a wait, since
      * the action released the scope already. User-code errors (reference
      * Y3: the C++ framework exits the process) surface as its exception.
      */
    def close(): T = waitForJob()
  }

  private val progressOrder: Ordering[JobState] = Ordering.by(s =>
    (Seq(UNDEFINED, MAP, SHUFFLE, REDUCE).indexOf(s.stage), s.percentage))

  private def phase(stages: Seq[Meter.StageProgress]): JobState = {
    val (reduceStages, mapStages) = stages.partition(_.result)
    def pct(ss: Seq[Meter.StageProgress], f: Meter.StageProgress => Int): Float = {
      val total = ss.map(_.total).sum
      val n = ss.map(f).sum
      if (total <= 0) 0f else math.min(100f, n.toFloat / total * 100f)
    }
    if (reduceStages.exists(_.completed > 0))
      JobState(REDUCE, pct(reduceStages, _.completed))
    else if (mapStages.nonEmpty && pct(mapStages, _.completed) >= 100f)
      // Within-shuffle progress ≙ the reference's pairs-grouped counter
      // (`MapReduceFramework.cpp:192,205`): a reduce task's shuffle fetch
      // begins at task start, so started/total approximates grouping %.
      JobState(SHUFFLE, pct(reduceStages, _.started))
    else if (mapStages.nonEmpty) JobState(MAP, pct(mapStages, _.completed))
    else JobState(UNDEFINED, 0f)
  }

  /** ≡ `startMapReduceJob` (`MapReduceFramework.cpp:322-353`): kick off the
    * action asynchronously under a dedicated job group and return immediately.
    */
  def start[T](spark: SparkSession, desc: String = "graft-job")(
      action: => T): JobHandle[T] = {
    val sc = spark.sparkContext
    val group = s"graft-${java.util.UUID.randomUUID()}"
    val scope = Meter.group(sc, group)
    implicit val ec: ExecutionContext = ExecutionContext.global
    val fut = Future {
      sc.setJobGroup(group, desc, interruptOnCancel = true)
      try action
      finally {
        sc.clearJobGroup()
        scope.release()
      }
    }
    new JobHandle(scope, fut)
  }
}
