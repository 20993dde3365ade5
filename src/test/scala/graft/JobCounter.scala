package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Spark jobs started while `body` runs, counted by a listener and read
  * after the listener bus has delivered every event. */
object JobCounter {
  def jobs[T](spark: SparkSession)(body: => T): (T, Long) = {
    val n = new AtomicLong
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusShim.drain(sc)
    sc.addSparkListener(l)
    try {
      val out = body
      org.apache.spark.ListenerBusShim.drain(sc)
      (out, n.get)
    } finally sc.removeSparkListener(l)
  }
}
