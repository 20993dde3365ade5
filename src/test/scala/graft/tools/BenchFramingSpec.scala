package graft.tools

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper

/** Pins the bench stdout-framing contract that took 10 rounds to get
  * machine-parsed (VERDICT r11): the final stdout line is ONE line of
  * valid JSON that fits the driver's ~2000-char tail capture WHOLE.
  * `Bench.renderLine` is pure, so the invariant is checked against
  * adversarial registries (many queries, long names, huge divergent
  * lists) without running Spark. The sbt-side half of the contract
  * (`run / outputStrategy := StdoutOutput`, `showSuccess := false`)
  * is smoke-checked by `tools/bench_smoke.sh`.
  */
class BenchFramingSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  private def check(results: Seq[(String, Double)], divergent: Seq[String],
      label: String): Unit = {
    val line = graft.Bench.renderLine(results, divergent, "/root/testdata/sf0.1")
    assert(!line.contains("\n"), s"$label: line must be single-line")
    assert(line.length <= graft.Bench.lineBudget + 50,
      s"$label: ${line.length} chars exceeds the ${graft.Bench.lineBudget} budget")
    val node = mapper.readTree(line) // throws on invalid JSON
    assert(node.get("metric").asText() == "total")
    assert(node.get("n_queries").asInt() == results.size)
    assert(node.get("queries_shown").asInt() == node.get("queries").size())
    assert(node.get("queries_shown").asInt() <= results.size)
    assert(node.get("full").asText() == "BENCH_LAST.json")
    // calibration fields must always be present for cross-run compare
    assert(node.has("calibration_sec") && node.has("calib_factor")
      && node.has("value_norm") && node.has("calib_mc_sec")
      && node.has("calib_mc_threads"), s"$label: calibration fields missing")
    // the shown subset is the slowest queries — worth eyeballing first
    if (results.nonEmpty && node.get("queries_shown").asInt() > 0) {
      val slowest = results.maxBy(_._2)._1
      assert(node.get("queries").has(slowest), s"$label: slowest query missing")
    }
  }

  test("current registry size fits the budget") {
    val names = graft.SparkEntry.registry.map(_.name)
    val results = names.zipWithIndex.map { case (n, i) => n -> (i * 0.013 + 0.1) }
    check(results, Nil, "registry")
  }

  test("adversarial shapes all fit: huge registry, long names, big divergent") {
    val long = (1 to 400).map(i => s"l${i}_some_quite_long_query_name_$i" -> i * 0.01)
    check(long, Nil, "400 long names")
    check(long, long.take(80).map(_._1), "80 divergent")
    check(Nil, Nil, "empty")
    check(Seq("q1" -> 1234567.89), Nil, "one huge value")
  }

  test("calibration normalization: value_norm = value x ref/measured") {
    val results = Seq("q1" -> 10.0, "q2" -> 20.0)
    // a host exactly 2x slower than the reference
    val line = graft.Bench.renderLine(results, Nil, "sf",
      calibrationSec = graft.Bench.calibrationRef * 2.0)
    val node = mapper.readTree(line)
    assert(math.abs(node.get("value").asDouble() - 30.0) < 1e-9)
    assert(math.abs(node.get("value_norm").asDouble() - 15.0) < 1e-6,
      "normalized total should halve on a 2x-slower host")
    assert(math.abs(node.get("calib_factor").asDouble() - 0.5) < 1e-6)
  }

  test("quiet reference BENCH_FULL.json is written only on explicit opt-in") {
    import graft.Bench.quietCommitAllowed
    assert(!quietCommitAllowed(subset = false, env = Map.empty),
      "a default full run must NOT clobber the committed quiet artifact")
    assert(!quietCommitAllowed(subset = true,
      env = Map("SPARK_GRAFT_COMMIT_QUIET" -> "1")),
      "a subset run must never refresh the quiet artifact")
    assert(quietCommitAllowed(subset = false,
      env = Map("SPARK_GRAFT_COMMIT_QUIET" -> "1")))
  }

  test("calibration kernel is deterministic work and returns a sane time") {
    val t = graft.Bench.calibrationOnce()
    assert(t > 0.01 && t < 30.0, s"calibration kernel took $t s")
  }

  test("runs=1 artifacts label the aggregate 'single', not 'median'") {
    // ADVICE r13: a lone decade-probe sample is not a median; consumers
    // comparing runs=1 probes against median-of-3 rounds need the label
    val one = graft.Bench.renderLine(Seq("q1" -> 5.0), Nil, "sf", runs = 1)
    assert(mapper.readTree(one).get("agg").asText() == "single")
    val three = graft.Bench.renderLine(Seq("q1" -> 5.0), Nil, "sf", runs = 3)
    assert(mapper.readTree(three).get("agg").asText() == "median")
  }

  test("divergent overflow is marked, never silently dropped") {
    val results = (1 to 50).map(i => s"q$i" -> 0.5)
    val div = (1 to 60).map(i => s"l${i}_very_long_divergent_query_name_padding")
    val line = graft.Bench.renderLine(results, div, "sf")
    val node = mapper.readTree(line)
    val shown = (0 until node.get("divergent").size())
      .map(node.get("divergent").get(_).asText())
    assert(shown.last.startsWith("...+"), "overflow marker expected")
    assert(shown.init.size + shown.last.drop(4).toInt == 60)
  }

  test("multi-core calibration rethrows a worker thread's failure") {
    val calls = new java.util.concurrent.atomic.AtomicInteger
    val e = intercept[IllegalStateException] {
      graft.Bench.calibrationMulti(4, () =>
        if (calls.incrementAndGet() == 2) throw new IllegalStateException("kernel broke"))
    }
    assert(e.getMessage == "kernel broke")
    assert(graft.Bench.calibrationMulti(2, () => ()) >= 0.0)
  }

  test("calib_mc_threads is reported, and 0 threads / -1 s when skipped") {
    import graft.Bench.mcThreads
    assert(mcThreads(subset = true, runs = 3, cpus = "32") == 0)
    assert(mcThreads(subset = false, runs = 1, cpus = "32") == 0)
    assert(mcThreads(subset = false, runs = 3, cpus = "32") == 32)
    val measured = mapper.readTree(graft.Bench.renderLine(Seq("q1" -> 1.0),
      Nil, "sf", calibMcSec = 0.8, calibMcThreads = 32))
    assert(measured.get("calib_mc_threads").asInt() == 32)
    assert(math.abs(measured.get("calib_mc_sec").asDouble() - 0.8) < 1e-9)
    val skipped = mapper.readTree(graft.Bench.renderLine(Seq("q1" -> 1.0), Nil, "sf"))
    assert(skipped.get("calib_mc_threads").asInt() == 0)
    assert(skipped.get("calib_mc_sec").asDouble() == -1.0)
  }
}
