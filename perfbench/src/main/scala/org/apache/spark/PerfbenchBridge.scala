package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** The few `private[spark]` internals the tracer reads. */
object PerfbenchBridge {
  /** Listener events reach listeners asynchronously; the tracer drains the
    * bus after every op so each span is credited to the op that caused it,
    * never to the next one.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000)

  /** True for a shuffle map stage (one MapReduce round), false for a result stage. */
  def isShuffleMap(si: StageInfo): Boolean = si.shuffleDepId.isDefined
}
