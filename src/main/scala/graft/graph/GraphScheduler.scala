package graft.graph

import java.nio.file.{Files, Path}
import java.time.LocalDateTime
import scala.jdk.CollectionConverters._

/** G2 runtime: the scheduling decision behind graph.yml `trigger:`
  * cron fields (reference: patterns/cli/configuration/edit.py:104, the
  * one reference-visible field that previously had no runtime behavior
  * here). Deliberately NOT a daemon — SURVEY scoped the wall-clock loop
  * out; instead `due` is a pure, clock-injected function any timer (or
  * `graft trigger --due <now>`) can poll, which also makes the
  * semantics testable to the minute.
  *
  * Catch-up rule: a node is due at `now` iff it declares a trigger
  * whose next firing STRICTLY AFTER its recorded last run is <= now —
  * so a poll gap longer than the cron period runs the node exactly
  * once (catch-up), never zero or N times, and a poll more frequent
  * than the period never double-fires. A node with no recorded run is
  * immediately due (first-poll catch-up). This is the only cron rule.
  * [[Scheduler]] polls it over the expanded nodes
  * ([[GraphManifest.flatNodes]]), so triggers inside subgraphs and
  * components fire too, and hands the due nodes to the runner's one
  * run loop ([[GraphRunner.drain]]); `graft trigger --due` ticks a
  * Scheduler built over its ledger file.
  */
object GraphScheduler {

  def due(nodes: Seq[(String, FunctionNode, GraphManifest)],
      lastRuns: Map[String, LocalDateTime],
      now: LocalDateTime): Seq[String] =
    nodes.collect {
      case (id, f, _) if f.trigger.exists(t => lastRuns.get(id)
          .forall(last => !Cron(t).nextAfter(last).isAfter(now))) => id
    }

  /** Last-run ledger for the CLI poller: one `id<TAB>isoDateTime` line
    * per node (human-inspectable, no parser dependency). Lives under
    * the app warehouse so state follows the data.
    */
  def loadLastRuns(path: Path): Map[String, LocalDateTime] =
    if (!Files.exists(path)) Map.empty
    else Files.readAllLines(path).asScala.filter(_.contains("\t")).flatMap { l =>
      // a corrupt / hand-edited line must not brick every subsequent
      // poll (ADVICE r13): skip it with a warning naming the ledger.
      // Treating the node as never-run makes it immediately due —
      // the catch-up rule's safe direction (one extra run, never a
      // silently skipped schedule).
      val Array(id, ts) = l.split("\t", 2)
      try Some(id -> LocalDateTime.parse(ts))
      catch {
        case e: java.time.format.DateTimeParseException =>
          System.err.println(
            s"[graft] WARNING: skipping unparsable last-run line for '$id' " +
              s"in ledger $path (${e.getMessage}); node treated as never run")
          None
      }
    }.toMap

  def saveLastRuns(path: Path, runs: Map[String, LocalDateTime]): Unit =
    graft.core.Catalog.writeAtomic(path, runs.toSeq.sortBy(_._1)
      .map { case (id, ts) => s"$id\t$ts" }.mkString("", "\n", "\n"))
}

/** Cron scheduler over a GraphRunner (G2/T9): a tick is one
  * [[GraphRunner.drain]] of the nodes [[GraphScheduler.due]] selects
  * against the last-run ledger, which then advances to the tick for
  * them; a tick that throws leaves it as it was. Driven by an external
  * clock so it is testable and embeddable (call `tick` from any timer).
  */
final class Scheduler(runner: GraphRunner,
    private var ledger: Map[String, LocalDateTime] = Map.empty) {

  /** Each cron node's last scheduled run, as the ledger to save. */
  def lastRuns: Map[String, LocalDateTime] = ledger

  def pendingFollowUps: Map[String, LocalDateTime] = runner.pendingFollowUps

  def tick(t: LocalDateTime): Seq[String] = {
    val due = GraphScheduler.due(runner.flatNodes, ledger, t)
    val ran = runner.drain(t, due)
    ledger ++= due.map(_ -> t)
    ran
  }
}
