package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; a traced call waits on it so the
  * jobs, tasks and query executions it caused are counted before the next
  * call starts. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
