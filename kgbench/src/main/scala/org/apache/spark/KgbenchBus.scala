package org.apache.spark

/** Lets the benchmark wait until every listener event of finished jobs has
  * been delivered before it reads the task metrics its listener collected.
  */
object KgbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
