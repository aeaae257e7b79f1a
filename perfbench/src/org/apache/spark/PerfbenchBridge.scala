package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * benchmark reads its listeners' counters only after every event posted
  * so far has been delivered.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
