package org.apache.spark

/** The listener bus delivers events asynchronously and only Spark's own
  * packages may wait for it; the benchmark reads listener totals after
  * calling [[drain]], which returns once every event posted so far has
  * reached every listener.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
