package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Exact listener-bus drain. `LiveListenerBus.waitUntilEmpty` is
  * `private[spark]`, so the benchmark reaches it from inside the
  * package; it returns once every event posted so far has been
  * delivered to every listener.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
