package org.apache.spark

/** Bridge into `private[spark]` SparkContext internals for the meter:
  * listener events are delivered asynchronously, so per-scope metric
  * attribution needs an explicit bus drain before a scope is read — without
  * it a query's trailing task-end events would be missed. `listenerCount`
  * lets a test see that metering registers no listener per call.
  * `writesShuffle` tells a shuffle map stage from a result stage.
  */
object GraftSparkBridge {
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 30000): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  def listenerCount(sc: SparkContext): Int = sc.listenerBus.listeners.size

  def writesShuffle(s: scheduler.StageInfo): Boolean = s.shuffleDepId.isDefined
}
