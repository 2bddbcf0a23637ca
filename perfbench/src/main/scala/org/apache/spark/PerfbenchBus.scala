package org.apache.spark

/** Access to the listener bus, which is private to Spark. The traced run
  * drains it after each operation so that every event of that operation
  * has reached the benchmark's listeners before the next one starts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
