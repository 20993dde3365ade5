package graft.graph

import java.nio.file.{Files, Path}
import java.time.LocalDateTime
import scala.collection.mutable
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
  * immediately due (first-poll catch-up). This is the only cron rule:
  * `graft trigger --due` polls it against its ledger file and
  * [[Scheduler]] against an in-memory map, both over the expanded
  * nodes ([[GraphManifest.flatNodes]]), so triggers inside subgraphs
  * and components fire too.
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

/** Cron + run-request scheduler loop over a GraphRunner (G2/T9): each
  * tick runs the nodes [[GraphScheduler.due]] selects against this
  * scheduler's in-memory last-run map (advanced to the tick instant
  * after they ran, as `--due` advances its ledger) and any follow-up
  * runs previously requested via `State.requestNewRun`, then propagates
  * one signal wave to downstream consumers. A follow-up request comes
  * back from the run that made it, a due run or a propagated one.
  * Driven by an external clock so it is testable and embeddable (call
  * `tick` from any timer).
  */
final class Scheduler(runner: GraphRunner) {
  // follow-up run time + whether that run's writes propagate downstream
  private val followUps = mutable.Map.empty[String, (LocalDateTime, Boolean)]
  private val lastRuns = mutable.Map.empty[String, LocalDateTime]

  def pendingFollowUps: Map[String, LocalDateTime] =
    followUps.view.mapValues(_._1).toMap

  def tick(t: LocalDateTime): Seq[String] = {
    val dueFollowUps = followUps.collect {
      case (id, (at, _)) if !at.isAfter(t) => id
    }.toList
    // trigger_downstream=false governs the REQUESTED follow-up run, not
    // the run that requested it (node.py request_new_run): a follow-up
    // scheduled with false executes, but its changes count as seen by
    // consumers that had nothing else pending, so this tick's
    // propagation wave leaves them alone
    val cronDue = GraphScheduler.due(runner.flatNodes, lastRuns.toMap, t)
    // a node that is ALSO cron-due this tick runs on the schedule's
    // authority — the follow-up's no-propagate flag must not mute it
    val muted =
      dueFollowUps.filter(id => !followUps(id)._2).toSet -- cronDue
    dueFollowUps.foreach(followUps.remove)
    val due = (cronDue ++ dueFollowUps).distinct
    def follow(id: String, request: Option[(Boolean, Long)]): Unit =
      request.foreach { case (triggerDownstream, waitSecs) =>
        followUps(id) = (t.plusSeconds(waitSecs), triggerDownstream)
      }
    // under the runner's ingest lock, as the webhook edge's waves run:
    // a due run and a propagated run of one node never overlap
    runner.serialized {
      due.foreach(id => follow(id, runner.runNode(id, triggerDownstream = !muted(id))))
      lastRuns ++= cronDue.map(_ -> t)
      val propagated = if (due.nonEmpty) runner.propagate() else Nil
      propagated.foreach { case (id, request) => follow(id, request) }
      due ++ propagated.map(_._1)
    }
  }
}
