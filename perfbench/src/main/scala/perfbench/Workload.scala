package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** What one measured pass of a workload produced. `opsMs` holds the
  * latency of every operation (request or query pass) in order,
  * failed ones included, `okMs` that of the successful ones; `checks`
  * is the raw output the runner compares against its own model;
  * `layers` are per-layer figures.
  */
final class Pass {
  val opsMs = mutable.ArrayBuffer.empty[Double]
  val okMs = mutable.ArrayBuffer.empty[Double]
  var passS = 0.0
  var attempted = 0
  var failed = 0
  val checks = mutable.ArrayBuffer.empty[Any]
  val layers = mutable.LinkedHashMap.empty[String, Double]
}

final class Env(
    val spark: SparkSession,
    val cores: Int,
    val inputs: String,
    val work: String,
    val log: String => Unit) {
  private var n = 0
  /** A fresh directory under the run's work dir. */
  def freshDir(prefix: String): String = {
    n += 1
    val p = java.nio.file.Paths.get(work, s"$prefix-$n")
    java.nio.file.Files.createDirectories(p)
    p.toString
  }
}

trait Workload {
  /** Build the state the pass runs against, from nothing but the inputs
    * (a fresh warehouse each time). Timed by the caller; `tr` is
    * enabled only for the set-up of the traced pass.
    */
  def setup(tr: Tracer): Unit
  /** The measured pass, against the state the last `setup` built. */
  def measure(tr: Tracer, counters: Option[SparkCounters]): Pass
  /** The session the pass runs queries on. */
  def session: SparkSession
  def close(): Unit = ()
}

/** Per-operation Spark counter deltas in the traced run: the loop is
  * serial and closed, so everything the listener saw between two
  * snapshots belongs to the operation between them.
  */
final class OpCounters(spark: SparkSession, counters: Option[SparkCounters], cores: Int) {
  private val sums = mutable.LinkedHashMap.empty[String, Double]
  private var ops = 0
  private var wallS = 0.0

  def around[T](body: => T): (T, Map[String, Double]) = counters match {
    case None => (body, Map.empty)
    case Some(c) =>
      val before = c.snapshot(spark)
      val t0 = System.nanoTime()
      val r = body
      val wall = (System.nanoTime() - t0) / 1e9
      val after = c.snapshot(spark)
      val d = after.map { case (k, v) => k -> (v - before(k)) }
      d.foreach { case (k, v) => sums(k) = sums.getOrElse(k, 0.0) + v }
      ops += 1
      wallS += wall
      (r, d)
  }

  /** Means per operation, plus effective parallelism over all of them. */
  def report(into: mutable.Map[String, Double]): Unit = if (ops > 0) {
    sums.foreach { case (k, v) => into(s"spark.$k") = v / ops }
    into("spark.parallelism") = sums.getOrElse("task_s", 0.0) / (wallS * cores)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  def timeS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
