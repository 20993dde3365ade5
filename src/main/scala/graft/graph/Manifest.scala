package graft.graph

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.yaml.snakeyaml.Yaml

/** graph.yml vocabulary (/root/reference/patterns/cli/configuration/edit.py:84-232):
  * a DAG of function nodes (sql / scala / webhook / subgraph / component)
  * wired to stores through named ports, with cron triggers and
  * parameters; subgraphs surface ports via `exposes:`.
  */
final case class FunctionNode(
    id: Option[String],
    title: Option[String],
    nodeFile: Option[String],
    webhook: Option[String],
    uses: Option[String],
    trigger: Option[String],
    inputs: Map[String, String],
    outputs: Map[String, String],
    parameters: Map[String, Any],
    descriptionFile: Option[String] = None) {
  def kind: String =
    if (webhook.isDefined) "webhook"
    else if (uses.isDefined) "component"
    else nodeFile match {
      case Some(f) if f.endsWith(".sql") => "sql"
      case Some(f) if f.endsWith("graph.yml") => "subgraph"
      case Some(_) => "code"
      case None => "invalid"
    }
  def displayName: String =
    id.orElse(title).orElse(nodeFile).orElse(webhook).orElse(uses).getOrElse("?")
}

/** Typed parameter declaration for a code node — the Scala face of the
  * reference's `Parameter(name, type=..., default=...)`
  * (/root/reference/patterns/node/node.py:513-542): allowed types
  * str/int/float/bool/datetime/date/list/connection, with the string
  * sentinel `"MISSING"` as the default-of-defaults meaning *required*
  * (`default=None` is an allowed explicit default, hence a sentinel
  * rather than Option). `connection` declares a credentials-bundle
  * dependency (node.py:508-510): the binding names a bundle that must
  * be registered with the runner, resolved via
  * [[NodeContext.connection]].
  */
final case class ParamSpec(
    name: String,
    dtype: String = "str",
    default: Any = ParamSpec.Missing,
    description: Option[String] = None)

object ParamSpec {
  /** Required-parameter sentinel (node.py:519 `default: T = "MISSING"`). */
  val Missing: String = "MISSING"

  val allowedTypes: Set[String] =
    Set("str", "int", "float", "bool", "datetime", "date", "list", "connection")

  /** Compile-time type check of a YAML-parsed binding against the
    * declared type; None = ok, Some(message) = mismatch. Presence
    * (required vs default) is the caller's concern — null/MISSING pass
    * through here.
    */
  def typeError(spec: ParamSpec, v: Any): Option[String] = {
    def bad: Option[String] = Some(
      s"parameter '${spec.name}' expected ${spec.dtype}, got " +
        s"'${String.valueOf(v)}' (${v.getClass.getSimpleName})")
    def parses(p: String => Any): Option[String] =
      try { p(String.valueOf(v)); None } catch { case _: Exception => bad }
    if (v == null || v == Missing) return None
    spec.dtype match {
      case "str" => v match { case _: String => None; case _ => bad }
      case "int" => v match {
        case _: java.lang.Integer | _: java.lang.Long => None
        case _ => bad
      }
      case "float" => v match {
        case _: java.lang.Double | _: java.lang.Float |
             _: java.lang.Integer | _: java.lang.Long |
             _: java.math.BigDecimal => None
        case _ => bad
      }
      case "bool" => v match { case _: java.lang.Boolean => None; case _ => bad }
      case "datetime" => v match {
        case _: java.util.Date => None // snakeyaml parses ISO timestamps
        case _: String =>
          parses(s => java.time.LocalDateTime.parse(s.replace(' ', 'T')))
        case _ => bad
      }
      case "date" => v match {
        case _: java.util.Date => None
        case _: String => parses(java.time.LocalDate.parse)
        case _ => bad
      }
      case "list" => v match {
        case _: java.util.List[_] | _: Seq[_] => None
        case _ => bad
      }
      case "connection" =>
        // binding is the bundle NAME; bundle existence is checked by
        // the runner, which owns the registry
        v match { case _: String => None; case _ => bad }
      case other =>
        Some(s"parameter '${spec.name}' has unknown type '$other'")
    }
  }
}

final case class StoreDef(name: String, kind: String, schema: Option[String])

final case class GraphManifest(
    title: Option[String],
    slug: Option[String],
    functions: List[FunctionNode],
    stores: List[StoreDef],
    exposesInputs: List[String],
    exposesOutputs: List[String],
    dir: Path) {

  /** Flattened node list: subgraphs and components expand recursively,
    * exposed ports aliased onto the parent wiring (edit.py:175-200;
    * tests/cli/test_create.py:30-44); each entry is (expanded id, node,
    * declaring manifest). Spark-free, so a cron poll decides what is due
    * before any session exists. An unresolved component stays a node of
    * its own, which validation reports.
    */
  def flatNodes(componentResolver: String => Option[GraphManifest])
      : List[(String, FunctionNode, GraphManifest)] = {
    def expand(m: GraphManifest, prefix: String): List[(String, FunctionNode, GraphManifest)] =
      m.functions.flatMap { f =>
        val id = prefix + f.id.getOrElse(f.displayName)
        val sub = f.kind match {
          case "subgraph" => Some(GraphManifest.load(m.dir.resolve(f.nodeFile.get).toString))
          case "component" => componentResolver(f.uses.get)
          case _ => None
        }
        sub.fold(List((id, f, m)))(expand(_, id + "/"))
      }
    expand(this, "")
  }

  /** Human-readable graph summary — the UI-facing metadata the platform
    * renders per node (`title`, `description_file`, trigger, wiring;
    * edit.py:104-126). Description files resolve against the graph dir;
    * only their first line is shown.
    */
  def describe: String = {
    val header = s"graph: ${title.orElse(slug).getOrElse("(untitled)")}"
    val nodeLines = functions.map { f =>
      val desc = f.descriptionFile.map(dir.resolve)
        .filter(Files.exists(_))
        .map(p => Files.readString(p).trim.linesIterator.nextOption().getOrElse(""))
        .filter(_.nonEmpty)
      (Seq(s"- ${f.displayName} [${f.kind}]") ++
        f.title.map(t => s"    title: $t") ++
        desc.map(d => s"    $d") ++
        f.trigger.map(t => s"    trigger: $t") ++
        (if (f.inputs.isEmpty) Nil
         else Seq(s"    inputs: " + f.inputs.map { case (p, s) => s"$p<-$s" }.mkString(", "))) ++
        (if (f.outputs.isEmpty) Nil
         else Seq(s"    outputs: " + f.outputs.map { case (p, s) => s"$p->$s" }.mkString(", ")))
      ).mkString("\n")
    }
    val storeLines = stores.map(s =>
      s"- ${s.kind} ${s.name}" + s.schema.map(sc => s" (schema: $sc)").getOrElse(""))
    ((header +: nodeLines) ++
      (if (stores.isEmpty) Nil else "stores:" +: storeLines)).mkString("\n")
  }
}

object GraphManifest {

  def load(path: String): GraphManifest = {
    val p = Paths.get(path)
    val file = if (Files.isDirectory(p)) p.resolve("graph.yml") else p
    parse(Files.readString(file), file.getParent)
  }

  def parse(yamlText: String, dir: Path): GraphManifest = {
    val root = Option(new Yaml().load[java.util.Map[String, Any]](yamlText))
      .map(_.asScala.toMap).getOrElse(Map.empty[String, Any])

    def str(v: Any): String = String.valueOf(v)
    def strMap(v: Any): Map[String, String] = v match {
      case m: java.util.Map[_, _] =>
        m.asScala.map { case (k, x) => str(k) -> str(x) }.toMap
      case null => Map.empty
      case _ => Map.empty
    }
    def anyMap(v: Any): Map[String, Any] = v match {
      case m: java.util.Map[_, _] =>
        m.asScala.map { case (k, x) => str(k) -> (x: Any) }.toMap
      case null => Map.empty
      case _ => Map.empty
    }

    val functions = root.get("functions").toList.flatMap {
      case l: java.util.List[_] => l.asScala.toList.collect {
        case m: java.util.Map[_, _] =>
          val f = m.asScala.map { case (k, v) => str(k) -> (v: Any) }.toMap
          FunctionNode(
            id = f.get("id").map(str),
            title = f.get("title").map(str),
            nodeFile = f.get("node_file").map(str),
            webhook = f.get("webhook").map(str),
            uses = f.get("uses").map(str),
            trigger = f.get("trigger").map(str),
            inputs = f.get("inputs").map(strMap).getOrElse(Map.empty),
            outputs = f.get("outputs").map(strMap).getOrElse(Map.empty),
            parameters = f.get("parameters").map(anyMap).getOrElse(Map.empty),
            descriptionFile = f.get("description_file").map(str))
      }
      case _ => Nil
    }

    val stores = root.get("stores").toList.flatMap {
      case l: java.util.List[_] => l.asScala.toList.collect {
        case m: java.util.Map[_, _] =>
          val f = m.asScala.map { case (k, v) => str(k) -> (v: Any) }.toMap
          val (name, kind) =
            if (f.contains("table")) (str(f("table")), "table")
            else (str(f("stream")), "stream")
          StoreDef(name, kind, f.get("schema").map(str))
      }
      case _ => Nil
    }

    val exposes = root.get("exposes").map(anyMap).getOrElse(Map.empty)
    def strList(v: Any): List[String] = v match {
      case l: java.util.List[_] => l.asScala.toList.map(str)
      case null => Nil
      case _ => Nil
    }

    GraphManifest(
      title = root.get("title").map(str),
      slug = root.get("slug").map(str),
      functions = functions,
      stores = stores,
      exposesInputs = exposes.get("inputs").map(strList).getOrElse(Nil),
      exposesOutputs = exposes.get("outputs").map(strList).getOrElse(Nil),
      dir = dir)
  }

  /** 8-char random node id, alphabet [0-9a-z]
    * (/root/reference/patterns/cli/helpers.py:128-132).
    */
  def newNodeId(rng: scala.util.Random = new scala.util.Random()): String =
    (1 to 8).map(_ => "0123456789abcdefghijklmnopqrstuvwxyz"(rng.nextInt(36))).mkString
}
