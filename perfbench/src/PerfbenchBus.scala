package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * counters read afterwards cover the work that already ran.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
