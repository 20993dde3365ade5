package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `op` names the request or query
  * the call served; `parent` is the enclosing span on the same thread
  * (0 at the top).
  */
final case class Span(id: Long, parent: Long, name: String, op: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Disabled, `span` only evaluates its body,
  * so the untraced run carries no bookkeeping.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicLong(0L)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  /** The operation subsequent spans are charged to (serial closed loop). */
  @volatile var op: String = ""

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        val s = Span(id, parent, name, op, t0, t1)
        synchronized(spans += s)
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Duration minus the part of it covered by the span's children. */
  def selfMs(s: Span): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var end = s.startNs
    kids.foreach { case (a, b) =>
      val lo = math.max(a, end)
      if (b > lo) { covered += b - lo; end = b }
    }
    (s.endNs - s.startNs - covered) / 1e6
  }

  def toJson(originNs: Long): String = all.sortBy(_.startNs).map { s =>
    f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","op":"${s.op}",""" +
      f""""start_ms":${(s.startNs - originNs) / 1e6}%.3f,"end_ms":${(s.endNs - originNs) / 1e6}%.3f}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Spark-side counters, registered only in the traced run: a
  * SparkListener for jobs, stages and task metrics, and a
  * QueryExecutionListener for Catalyst phase times. Query-execution
  * listeners belong to a session; `install` watches the root one.
  */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  val jobs, stages, tasks, oneTaskStages = new AtomicLong
  val taskNs, shuffleBytes, spillBytes, gcMs, planMs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    if (e.stageInfo.numTasks == 1) oneTaskStages.incrementAndGet()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      taskNs.addAndGet(m.executorRunTime * 1000000L)
      shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      gcMs.addAndGet(m.jvmGCTime)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planMs.addAndGet(qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Counter values after the listener bus has delivered every event
    * posted so far.
    */
  def snapshot(spark: SparkSession): Map[String, Double] = {
    org.apache.spark.PerfbenchShim.drainListenerBus(spark.sparkContext)
    Map(
      "jobs" -> jobs.get.toDouble, "stages" -> stages.get.toDouble,
      "tasks" -> tasks.get.toDouble, "one_task_stages" -> oneTaskStages.get.toDouble,
      "task_s" -> taskNs.get / 1e9, "shuffle_bytes" -> shuffleBytes.get.toDouble,
      "spill_bytes" -> spillBytes.get.toDouble, "gc_s" -> gcMs.get / 1e3,
      "plan_ms" -> planMs.get.toDouble)
  }
}

object SparkCounters {
  def install(spark: SparkSession): SparkCounters = {
    val c = new SparkCounters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    c
  }

  def remove(spark: SparkSession, c: SparkCounters): Unit = {
    spark.sparkContext.removeSparkListener(c)
    spark.listenerManager.unregister(c)
  }
}
