package graft.graph

import java.time.LocalDateTime
import org.scalatest.funsuite.AnyFunSuite

/** G2 runtime semantics: the pure catch-up rule behind
  * `graft trigger --due` (GraphScheduler.due) — fires exactly at cron
  * boundaries, never double-fires within a period, catches up exactly
  * once over a long poll gap. Reference parity: the graph.yml
  * `trigger:` field (edit.py:104) now selects nodes at runtime.
  */
class GraphSchedulerSpec extends AnyFunSuite {

  private def nodes(triggers: (String, Option[String])*) =
    GraphManifest(
      title = None, slug = None,
      functions = triggers.toList.map { case (id, t) =>
        FunctionNode(id = Some(id), title = None,
          nodeFile = Some(s"$id.sql"), webhook = None, uses = None,
          trigger = t, inputs = Map.empty, outputs = Map.empty,
          parameters = Map.empty)
      },
      stores = Nil, exposesInputs = Nil, exposesOutputs = Nil,
      dir = java.nio.file.Paths.get(".")).flatNodes(_ => None)

  private val hourlyAt01 = nodes("h01" -> Some("1 * * * *"))
  private def at(h: Int, m: Int) = LocalDateTime.of(2026, 1, 1, h, m)

  test("fires exactly at the cron boundary, not before") {
    val last = Map("h01" -> at(5, 1))
    assert(GraphScheduler.due(hourlyAt01, last, at(5, 59)).isEmpty)
    assert(GraphScheduler.due(hourlyAt01, last, at(6, 0)).isEmpty)
    assert(GraphScheduler.due(hourlyAt01, last, at(6, 1)) == Seq("h01"))
  }

  test("no double-fire: polling every minute within one period fires once") {
    var lastRuns = Map("h01" -> at(5, 1))
    var fired = 0
    for (m <- 2 to 59; t = at(5, m)) {
      val d = GraphScheduler.due(hourlyAt01, lastRuns, t)
      fired += d.size
      lastRuns = lastRuns ++ d.map(_ -> t)
    }
    assert(fired == 0, "fired inside the period")
    val d = GraphScheduler.due(hourlyAt01, lastRuns, at(6, 1))
    assert(d == Seq("h01"))
  }

  test("catch-up: a poll gap spanning many periods runs the node exactly once") {
    val last = Map("h01" -> at(0, 1))
    // 9 firings missed (1:01 .. 9:01); one poll at 9:30 → due ONCE
    val d = GraphScheduler.due(hourlyAt01, last, at(9, 30))
    assert(d == Seq("h01"))
    // ledger advances to the poll instant → next due only at 10:01
    val after = Map("h01" -> at(9, 30))
    assert(GraphScheduler.due(hourlyAt01, after, at(9, 59)).isEmpty)
    assert(GraphScheduler.due(hourlyAt01, after, at(10, 1)) == Seq("h01"))
  }

  test("never-run node with a trigger is immediately due; untriggered never") {
    val m = nodes("h01" -> Some("1 * * * *"), "plain01" -> None)
    assert(GraphScheduler.due(m, Map.empty, at(5, 0)) == Seq("h01"))
    // a node without a trigger is never schedule-selected
    val allRun = Map("h01" -> at(5, 1), "plain01" -> at(5, 1))
    assert(GraphScheduler.due(m, allRun, at(23, 59)) == Seq("h01"))
  }

  test("multiple nodes with different cadences select independently") {
    val m = nodes(
      "hourly01" -> Some("1 * * * *"),
      "daily01" -> Some("30 2 * * *"))
    val last = Map("hourly01" -> at(2, 1), "daily01" -> at(2, 30))
    assert(GraphScheduler.due(m, last, at(2, 45)).isEmpty)
    assert(GraphScheduler.due(m, last, at(3, 1)) == Seq("hourly01"))
    // next day 2:31: both hourly (many missed) and daily are due
    val nextDay = LocalDateTime.of(2026, 1, 2, 2, 31)
    assert(GraphScheduler.due(m, last, nextDay).toSet ==
      Set("hourly01", "daily01"))
  }

  test("last-run ledger round-trips through the TSV file") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sched-")
    val p = dir.resolve("sub").resolve("last_runs.tsv")
    val runs = Map("h01" -> at(5, 1), "daily01" -> at(2, 30))
    GraphScheduler.saveLastRuns(p, runs)
    assert(GraphScheduler.loadLastRuns(p) == runs)
    // missing file = empty ledger (first poll)
    assert(GraphScheduler.loadLastRuns(dir.resolve("absent.tsv")).isEmpty)
  }

  test("corrupt ledger line is skipped, not a poll-bricking parse error") {
    // ADVICE r13: a hand-edited timestamp used to throw
    // DateTimeParseException out of loadLastRuns, permanently failing
    // every subsequent `trigger --due` until the TSV was repaired.
    // Contract now: unparsable lines are dropped with a warning (the
    // node reads as never-run → immediately due, the safe direction);
    // parsable lines still load.
    val dir = java.nio.file.Files.createTempDirectory("graft-sched-")
    val p = dir.resolve("last_runs.tsv")
    java.nio.file.Files.writeString(p,
      "good01\t2026-01-01T05:01\n" +
        "bad01\tnot-a-timestamp\n" +      // hand-edited garbage
        "no-tab-line-ignored\n" +          // pre-existing filter path
        "good02\t2026-01-01T06:01\n")
    val loaded = GraphScheduler.loadLastRuns(p)
    assert(loaded == Map(
      "good01" -> LocalDateTime.of(2026, 1, 1, 5, 1),
      "good02" -> LocalDateTime.of(2026, 1, 1, 6, 1)))
    // and the skipped node is immediately due at the next poll
    val m = nodes("bad01" -> Some("1 * * * *"))
    assert(GraphScheduler.due(m, loaded, at(5, 0)) == Seq("bad01"))
  }

  test("cron trigger parsing and next-fire computation") {
    val c = Cron("1 * * * *")
    assert(c.matches(LocalDateTime.of(2026, 1, 1, 10, 1)))
    assert(!c.matches(LocalDateTime.of(2026, 1, 1, 10, 2)))
    assert(c.nextAfter(LocalDateTime.of(2026, 1, 1, 10, 1)) ==
      LocalDateTime.of(2026, 1, 1, 11, 1))
    val step = Cron("*/15 9-17 * * 1-5")
    assert(step.matches(LocalDateTime.of(2026, 1, 2, 9, 30)))  // Friday
    assert(!step.matches(LocalDateTime.of(2026, 1, 3, 9, 30))) // Saturday
    assert(!step.matches(LocalDateTime.of(2026, 1, 2, 8, 30)))
    // malformed expressions are rejected at construction, not at a poll
    for (bad <- Seq("* * *", "*/0 * * * *", "61 * * * *", "a * * * *",
        "1,,2 * * * *", "* 24 * * *", "* * 0 * *", "* * * 13 *", "* * * * 7",
        "30-10 * * * *", "1/2/3 * * * *")) {
      val e = intercept[IllegalArgumentException](Cron(bad))
      assert(e.getMessage.contains(s"cron '$bad'"), e.getMessage)
    }
  }
}
