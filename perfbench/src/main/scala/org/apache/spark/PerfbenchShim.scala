package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * counters read after an operation must include that operation's events.
  */
object PerfbenchShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
