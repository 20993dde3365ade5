package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.queries.QuerySpec

/** `query_suite`: registry queries, in the given order, into the
  * `noop` sink. Set-up opens a fresh session on the shared context,
  * registers the fixture tables and runs the warm-up query.
  *
  * Inputs: `suite.json`, `{"queries": [name, ...], "runs": n}`.
  */
final class QuerySuite(env: Env) extends Workload {
  private val fixture = Paths.get(env.inputs, "fixture").toString
  private val plan = org.json4s.jackson.JsonMethods.parse(
    Files.readString(Paths.get(env.inputs, "suite.json")))
  private def spec(n: String): QuerySpec =
    graft.SparkEntry.registry.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"no registry query '$n'"))
  private val specs: Seq[QuerySpec] = (plan \ "queries").children.map(_.values.toString).map(spec)
  private val runs: Int = (plan \ "runs").values.toString.toInt
  private val warmUp = spec(QuerySuite.WarmUp)
  private var current: SparkSession = _
  def session: SparkSession = current

  def setup(tr: Tracer): Unit = {
    current = env.spark.newSession()
    graft.Fixtures.registerAll(session, fixture)
    warmUp.run(session, fixture).write.format("noop").mode("overwrite").save()
  }

  /** Each query runs once untimed, writing its result for the check and
    * warming its plan. Then `runs` rounds, each after a GC, run every
    * query once timed into `noop`, so that a query's samples spread over
    * the pass. The JIT is still compiling throughout (each round runs
    * faster than the one before), so a query's time is its fastest
    * sample: the least disturbed by compiler threads and the host. The
    * pass's time, the one latency operation, is the sum of those
    * minimums. Every query is an attempted operation (its result is
    * checked). All samples go to the log.
    */
  def measure(tr: Tracer, counters: Option[SparkCounters]): Pass = {
    val p = new Pass
    val oc = new OpCounters(session, counters, env.cores)
    val results = env.freshDir("results")
    specs.foreach(q => q.run(session, fixture).write.parquet(Paths.get(results, q.name).toString))
    val samples = specs.map(q => q.name -> mutable.ArrayBuffer.empty[Double]).toMap
    (1 to runs).foreach { _ =>
      System.gc()
      specs.foreach { q =>
        tr.op = q.name
        val (s, d) = oc.around(tr.span("queries.run")(Stats.timeS(
          q.run(session, fixture).write.format("noop").mode("overwrite").save())._2))
        d.get("jobs").foreach(j => p.layers(s"queries.${q.name}_jobs") = j)
        samples(q.name) += s
      }
    }
    specs.foreach { q =>
      env.log(s"${q.name} samples_s ${samples(q.name).mkString(" ")}")
      val s = samples(q.name).min
      p.layers(s"queries.${q.name}_s") = s
      p.passS += s
    }
    p.attempted = specs.size
    p.opsMs += p.passS * 1000
    if (tr.enabled) oc.report(p.layers)
    p
  }
}

object QuerySuite {
  /** Set-up's query: the same one whatever the pass order. */
  val WarmUp = "q10_agg_tpch1"
}
