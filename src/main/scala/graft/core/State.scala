package graft.core

import java.nio.file.{Files, Paths}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Per-node key-value State + run control
  * (/root/reference/patterns/node/node.py:417-505).
  *
  * Values are JSON scalars/structures persisted per node at
  * `<warehouse>/_state/<node>.json`. The in-memory view is read when the
  * State is built, and every `set`/`delete`/`reset` rewrites the whole
  * file atomically. Stream cursors keep their positions here too: they
  * write at `checkpoint()` and, for a node run by the graph, at the end
  * of a run that returns normally (`graft.graph.NodeContext`).
  *
  * A State is one run's: the graph builds a fresh one per node run, so
  * `shouldContinue` counts from the start of that run and a
  * `requestNewRun` belongs to it (the runner hands it to the caller when
  * the run returns). `shouldContinue` implements the cooperative-deadline
  * contract: stop at max(80% of the time limit, 120 s before it) —
  * node.py:469-480.
  */
final class State(root: String, node: String) {
  private val path = Paths.get(root, "_state", s"$node.json")
  private val startedAtMs: Long = System.currentTimeMillis()

  private var kv: Map[String, JValue] = load()
  private var newRunRequested: Option[(Boolean, Long)] = None

  private def load(): Map[String, JValue] =
    if (!Files.exists(path)) Map.empty
    else JsonMethods.parse(Files.readString(path)) match {
      case JObject(fields) => fields.toMap
      case _ => Map.empty
    }

  private def persist(): Unit =
    Catalog.writeAtomic(path, JsonMethods.compact(JsonMethods.render(JObject(kv.toList: _*))))

  def setRaw(key: String, value: JValue): Unit = { kv = kv + (key -> value); persist() }
  def getRaw(key: String): Option[JValue] = kv.get(key)

  def set(key: String, value: Any): Unit = setRaw(key, State.toJ(value))

  /** getValue with optional default (node.py:446-456). */
  def get(key: String): Option[Any] = getRaw(key).map(State.fromJ)
  def getOrElse(key: String, default: Any): Any = get(key).getOrElse(default)

  def delete(key: String): Unit = { kv = kv - key; persist() }
  def reset(): Unit = { kv = Map.empty; persist() }

  /** node.py:465-480: false once this run nears its time limit. */
  def shouldContinue(
      limitMs: Long = 10 * 60 * 1000L,
      pctOfLimit: Double = 0.8,
      msTillLimit: Long = 120 * 1000L): Boolean = {
    val elapsed = System.currentTimeMillis() - startedAtMs
    val cutoff = math.max(pctOfLimit * limitMs, limitMs - msTillLimit)
    elapsed < cutoff
  }

  /** node.py:483-500: ask the scheduler for a follow-up run. */
  def requestNewRun(triggerDownstream: Boolean = true, waitAtleastSeconds: Long = 0): Unit =
    newRunRequested = Some((triggerDownstream, waitAtleastSeconds))
  /** This run's follow-up request: (triggerDownstream, waitAtleastSeconds). */
  def pendingNewRun: Option[(Boolean, Long)] = newRunRequested
}

object State {
  def toJ(v: Any): JValue = v match {
    case null => JNull
    case j: JValue => j
    case s: String => JString(s)
    case b: Boolean => JBool(b)
    case i: Int => JInt(BigInt(i))
    case l: Long => JInt(BigInt(l))
    case d: Double => JDouble(d)
    case f: Float => JDouble(f.toDouble)
    case bd: BigDecimal => JDecimal(bd)
    case m: Map[_, _] =>
      JObject(m.toList.map { case (k, x) => k.toString -> toJ(x) })
    case xs: Iterable[_] => JArray(xs.toList.map(toJ))
    case other => JString(other.toString)
  }

  def fromJ(j: JValue): Any = j match {
    case JNull | JNothing => null
    case JString(s) => s
    case JBool(b) => b
    case JInt(i) => if (i.isValidLong) i.toLong else i
    case JLong(l) => l
    case JDouble(d) => d
    case JDecimal(d) => d
    case JObject(fs) => fs.map { case (k, v) => k -> fromJ(v) }.toMap
    case JArray(xs) => xs.map(fromJ)
    case JSet(xs) => xs.map(fromJ)
  }
}
