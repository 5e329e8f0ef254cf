package org.apache.spark

/** `waitUntilEmpty` is private[spark]; the benchmark drains the listener
  * bus so a snapshot holds exactly the events of the calls it brackets. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
