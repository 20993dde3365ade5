package org.apache.spark

/** The listener bus's drain, which Spark keeps package-private: a count
  * read after an operation must include that operation's events. */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
