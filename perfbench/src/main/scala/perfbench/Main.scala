package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.json4s.{Extraction, NoTypeHints}
import org.json4s.jackson.{JsonMethods, Serialization}

/** Benchmark main, started by `run.py` once the inputs exist:
  *
  *   perfbench.Main <workload> <inputs dir> <work dir> <cores> <trace 0|1>
  *
  * Sets the workload up three times (each from a fresh warehouse) and
  * runs one untraced measured pass on the last set-up; with tracing on,
  * then a traced pass on a fresh set-up. Writes `<work>/result.json`
  * (raw timings, per-layer figures, outputs to check) and, traced,
  * `<work>/spans.json`.
  */
object Main {
  val SetUps = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, inputs, work, coresArg, traceArg) = args
    val cores = coresArg.toInt
    val trace = traceArg == "1"
    Files.createDirectories(Paths.get(work))
    val logFile = Paths.get(work, "bench.log")
    val log: String => Unit = line => synchronized {
      Files.writeString(logFile, line + "\n",
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    }
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.Sessions.local(cores.toString).appName("perfbench")
      .config("spark.local.dir", Paths.get(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(work, "spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val env = new Env(spark, cores, inputs, work, log)
    val w: Workload = workload match {
      case "webhook_respond" => new WebhookRespond(env)
      case "query_suite" => new QuerySuite(env)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    try {
      val off = new Tracer(false)
      // the first set-up also carries JVM and session start
      val setupS = (1 to SetUps).map { i =>
        val t0 = System.nanoTime() -
          (if (i == 1) (System.currentTimeMillis() - jvmStartMs) * 1000000L else 0L)
        w.setup(off)
        (System.nanoTime() - t0) / 1e9
      }
      heapPools.foreach(_.resetPeakUsage())
      val untraced = w.measure(off, None)
      val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
      var result = Map[String, Any](
        "setup_s" -> setupS,
        "heap_peak_mb" -> heapPeakMb,
        "untraced" -> passJson(untraced))
      if (trace) {
        // the traced pass runs on a fresh set-up, after the untraced one
        val tr = new Tracer(true)
        val origin = System.nanoTime()
        val counters = SparkCounters.install(spark)
        try {
          w.setup(tr)
          val own = Option(w.session).filter(_ ne spark)
          own.foreach(_.listenerManager.register(counters))
          result += "traced" -> passJson(w.measure(tr, Some(counters)))
          own.foreach(_.listenerManager.unregister(counters))
        } finally SparkCounters.remove(spark, counters)
        Files.writeString(Paths.get(work, "spans.json"), tr.toJson(origin))
      }
      implicit val formats = Serialization.formats(NoTypeHints)
      Files.writeString(Paths.get(work, "result.json"),
        JsonMethods.compact(JsonMethods.render(Extraction.decompose(result))))
    } finally {
      w.close()
      spark.stop()
    }
  }

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP).toList

  private def passJson(p: Pass): Map[String, Any] = Map(
    "ops_ms" -> p.opsMs.toList,
    "ok_ms" -> p.okMs.toList,
    "pass_s" -> p.passS,
    "attempted" -> p.attempted,
    "failed" -> p.failed,
    "layers" -> p.layers.toMap,
    "checks" -> p.checks.toList)
}
