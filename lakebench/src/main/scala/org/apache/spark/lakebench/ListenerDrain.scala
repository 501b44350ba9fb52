// In an org.apache.spark package to reach the private[spark] listener bus.
package org.apache.spark.lakebench

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached every listener, so
  * a traced op's jobs, tasks and query executions are all recorded
  * before the op's layer numbers are read. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
