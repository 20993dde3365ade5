package graft.cli

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.jackson.JsonMethods.{compact, render}

import graft.core.Catalog
import graft.graph.{GraphConfigEditor, GraphDiff, GraphManifest, GraphRunner,
  GraphScheduler, Packaging, Scheduler}

/** The devkit command-line surface
  * (/root/reference/patterns/cli/main.py:63-91 wires config / create /
  * delete / list / update / login / logout / trigger / upload /
  * download), re-expressed over the local engine: every command
  * delegates to a building block that already exists —
  * [[GraphConfigEditor]] (create), [[Packaging]] + [[GraphDiff]]
  * (upload/download), [[GraphRunner]] (trigger) — and the "platform"
  * is a REGISTRY DIRECTORY TREE (`<root>/<org>/<slug>/<version>.zip`
  * plus a `meta.json` per app), the same layout
  * [[graft.graph.ComponentRegistryServer]] serves over HTTP and
  * `componentResolverFromZips`/`FromHttp` resolve `uses:` keys
  * against. `login`/`logout` (OAuth against the proprietary platform,
  * commands/login.py) have no public-knowledge counterpart and say so.
  *
  * Environment: `GRAFT_HOME` (default `~/.graft`) holds
  * `config.json` and the default registry at `registry/`;
  * `GRAFT_REGISTRY` overrides the registry root.
  *
  * Exit codes follow the reference's typer conventions: 0 success,
  * 1 aborted (conflict previews, bad arguments).
  */
object Cli {

  // ---------------------------------------------------------------- plumbing

  final class Abort(msg: String) extends RuntimeException(msg)
  private def abort(msg: String): Nothing = throw new Abort(msg)

  // `-Dgraft.home` / `-Dgraft.registry` take precedence over the env
  // (same value, settable in-process — specs use it)
  private def home: Path =
    Paths.get(sys.props.get("graft.home")
      .orElse(sys.env.get("GRAFT_HOME"))
      .getOrElse(sys.props.getOrElse("user.home", ".") + "/.graft"))
  private def registryRoot: Path =
    sys.props.get("graft.registry").orElse(sys.env.get("GRAFT_REGISTRY"))
      .map(Paths.get(_)).getOrElse(home.resolve("registry"))
  private def configPath: Path = home.resolve("config.json")

  /** One flat JSON object on one line, `{"k": v, ...}`: the layout of
    * config.json (the reference's read/write_devkit_config shape,
    * config.py), the registry meta.json, the secret files and every
    * `--json` listing row. json4s renders and escapes each key and value.
    */
  private def jsonLine(fields: Seq[(String, JValue)]): String =
    fields.map { case (k, v) => s"${compact(render(JString(k)))}: ${compact(render(v))}" }
      .mkString("{", ", ", "}")

  private def writeJson(p: Path, fields: (String, JValue)*): Unit =
    Catalog.writeAtomic(p, jsonLine(fields) + "\n")

  /** A flat JSON object file's fields, booleans and numbers as their
    * JSON text. */
  private def readJson(p: Path): Map[String, String] =
    scala.util.Try(JsonMethods.parse(Files.readString(p))).toOption match {
      case Some(JObject(fields)) => fields.collect {
        case (k, JString(v)) => k -> v
        case (k, v @ (JBool(_) | JInt(_) | JLong(_))) => k -> compact(render(v))
      }.toMap
      case _ => abort(s"$p is not a JSON object")
    }

  private def readConfig(): Map[String, String] =
    if (!Files.exists(configPath)) Map.empty else readJson(configPath)
  private def writeConfig(cfg: Map[String, String]): Unit =
    writeJson(configPath, cfg.toSeq.sortBy(_._1).map { case (k, v) => k -> JString(v) }: _*)

  private def defaultOrg(explicit: String): String =
    if (explicit.nonEmpty) explicit
    else readConfig().getOrElse("organization", "local")

  /** Deterministic 8-char uid for an app key — the registry's stand-in
    * for the platform's opaque uids (list.py prints them per app).
    */
  private def appUid(org: String, slug: String): String = {
    val h = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"$org/$slug".getBytes("UTF-8"))
    // 5 digest bytes = 40 bits = exactly 8 base32 characters.
    val bits = h.take(5).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL))
    (0 until 8).map { i =>
      "abcdefghijklmnopqrstuvwxyz234567"(((bits >>> (35 - 5 * i)) & 31).toInt)
    }.mkString
  }

  private case class Meta(title: String, slug: String, public: Boolean,
      latest: Int, deprecated: Boolean = false)
  private def metaPath(org: String, slug: String): Path =
    registryRoot.resolve(org).resolve(slug).resolve("meta.json")
  private def readMeta(org: String, slug: String): Option[Meta] = {
    val p = metaPath(org, slug)
    if (!Files.exists(p)) None
    else {
      val m = readJson(p)
      Some(Meta(m.getOrElse("title", slug), m.getOrElse("slug", slug),
        m.getOrElse("public", "false") == "true",
        m.getOrElse("latest", "0").toInt,
        m.getOrElse("deprecated", "false") == "true"))
    }
  }
  private def writeMeta(org: String, slug: String, meta: Meta): Unit =
    writeJson(metaPath(org, slug), "title" -> JString(meta.title),
      "slug" -> JString(meta.slug), "public" -> JBool(meta.public),
      "latest" -> JInt(meta.latest), "deprecated" -> JBool(meta.deprecated))
  private def versionZip(org: String, slug: String, v: Int): Path =
    registryRoot.resolve(org).resolve(slug).resolve(s"v$v.zip")
  /** meta.json can outlive its zip (crash mid-upload, partial delete):
    * surface that as the Abort exit-1 path, not a NoSuchFileException
    * stack trace.
    */
  private def readVersionZip(org: String, slug: String, v: Int): Array[Byte] = {
    val p = versionZip(org, slug, v)
    if (!Files.exists(p)) abort(
      s"registry is missing $org/$slug version v$v (expected $p); " +
        "re-upload the app or delete its meta.json")
    Files.readAllBytes(p)
  }

  /** Nearest graph.yml at or above `start` (lookup.py's
    * find_nearest_graph).
    */
  private def nearestGraphDir(start: Path): Path = {
    var d = start.toAbsolutePath.normalize
    if (!Files.isDirectory(d)) d = d.getParent
    while (d != null && !Files.exists(d.resolve("graph.yml"))) d = d.getParent
    if (d == null)
      abort("No graph.yml found here or in any parent directory — " +
        "run inside an app or pass --app")
    d
  }

  /** Resolve an app argument: a directory containing graph.yml, a
    * slug in the registry (searching the org), or empty → nearest
    * graph from the cwd (lookup.py's graph_slug_or_uid_or_path).
    */
  private def resolveAppDir(app: String): Path =
    if (app.isEmpty) nearestGraphDir(Paths.get("."))
    else {
      val p = Paths.get(app)
      if (Files.isDirectory(p) && Files.exists(p.resolve("graph.yml"))) p
      else if (Files.isRegularFile(p) && p.getFileName.toString == "graph.yml")
        p.getParent
      else abort(s"'$app' is not an app directory (no graph.yml)")
    }

  private def slugOf(dir: Path): String = {
    val ed = GraphConfigEditor(dir.resolve("graph.yml"))
    ed.getSlug.orElse(ed.getTitle.map(slugify))
      .getOrElse(dir.toAbsolutePath.normalize.getFileName.toString)
  }

  private def slugify(name: String): String =
    name.replaceAll("[_ ]+", "-").replaceAll("[^a-zA-Z0-9-]+", "").toLowerCase

  // ------------------------------------------------------------ arg parsing

  /** Tiny option parser: `--flag`, `--opt value`, `--opt=value`,
    * short aliases; everything else is a positional.
    */
  private class Args(raw: Seq[String], aliases: Map[String, String],
      valued: Set[String]) {
    private val opts = scala.collection.mutable.Map.empty[String, String]
    private val pos = scala.collection.mutable.ArrayBuffer.empty[String]
    private var i = 0
    private val args = raw.toIndexedSeq
    while (i < args.length) {
      val a = args(i)
      if (a.startsWith("--") && a.contains('=')) {
        val Array(k, v) = a.split("=", 2)
        opts(canon(k)) = v
      } else if (a.startsWith("-")) {
        val k = canon(a)
        if (valued(k)) {
          if (i + 1 >= args.length) abort(s"option $a needs a value")
          opts(k) = args(i + 1); i += 1
        } else opts(k) = "true"
      } else pos += a
      i += 1
    }
    private def canon(k: String): String =
      aliases.getOrElse(k, k.stripPrefix("--").stripPrefix("-"))
    def flag(k: String): Boolean = opts.get(k).contains("true")
    def opt(k: String, default: String = ""): String = opts.getOrElse(k, default)
    def positional: Seq[String] = pos.toSeq
  }

  private val commonAliases = Map(
    "-o" -> "organization", "-f" -> "force", "-d" -> "diff",
    "-n" -> "title", "-t" -> "type", "-a" -> "app", "-c" -> "component")
  private val commonValued = Set("organization", "title", "type", "app",
    "component", "node-id", "name", "description", "due")

  private def parse(raw: Seq[String]): Args =
    new Args(raw, commonAliases, commonValued)

  // ---------------------------------------------------------------- secrets

  /** `create secret [--sensitive] [--description D] NAME VALUE`
    * (create.py:209-226) against the local registry: a secret is an
    * org-scoped `<registry>/<org>/.secrets/<name>.json` record in the
    * meta.json flat shape. (The reference's `-d` short alias collides
    * with the global `--diff` flag here; use `--description`.)
    */
  private def createSecret(a: Args): Unit = {
    val org = defaultOrg(a.opt("organization"))
    val name = a.positional.headOption.getOrElse(abort(
      "usage: graft create secret [--sensitive] [--description D] NAME VALUE"))
    val value = a.positional.drop(1).headOption.getOrElse(
      abort("pass the secret value"))
    // the name becomes a file name: refuse traversal/separator chars
    if (!name.matches("[A-Za-z0-9_.-]+") || name == "." || name == "..")
      abort(s"secret name '$name' must match [A-Za-z0-9_.-]+")
    writeJson(registryRoot.resolve(org).resolve(".secrets").resolve(s"$name.json"),
      "name" -> JString(name), "value" -> JString(value),
      "sensitive" -> JBool(a.flag("sensitive")),
      "description" -> JString(a.opt("description")))
    println(s"Created secret $name")
  }

  // ---------------------------------------------------------------- create

  /** `create app [--name NAME] LOCATION` (create.py:24-45). */
  private def createApp(a: Args): Unit = {
    val location = a.positional.headOption.getOrElse(
      abort("usage: graft create app [--name NAME] DIRECTORY"))
    val dir = Paths.get(location)
    val yml = dir.resolve("graph.yml")
    if (Files.exists(yml)) abort(s"graph.yml already exists in $location")
    Files.createDirectories(dir)
    val name = Option(a.opt("name")).filter(_.nonEmpty)
      .getOrElse(dir.toAbsolutePath.normalize.getFileName.toString)
    GraphConfigEditor.empty(Some(yml))
      .setName(name).setSlug(slugify(name)).write()
    println(s"Created app $name")
    println(s"You can add nodes with `cd $location`, then `graft create node`")
  }

  private val SqlTemplate =
    "-- Type '{{' to use Tables and Parameters\n\nselect\n"
  private val ScalaTemplate =
    """|// A Scala function node: implement graft.graph.CodeNode and
       |// register the class under this file's path when constructing
       |// the GraphRunner.
       |//
       |// class MyNode extends graft.graph.CodeNode {
       |//   def run(ctx: graft.graph.NodeContext): Unit = {
       |//     // writes are buffered and committed when run() returns
       |//     ctx.table("output_port").append(ctx.spark.range(10).toDF("n"))
       |//   }
       |// }
       |""".stripMargin

  /** `create node [--app DIR] [--title T] [--type TYPE] LOCATION`
    * (create.py:62-100): function (.sql / .scala / subgraph
    * graph.yml), component (`org/name@v1`), webhook, table.
    */
  private def createNode(a: Args): Unit = {
    val appDir =
      if (a.opt("app").nonEmpty) resolveAppDir(a.opt("app"))
      else nearestGraphDir(Paths.get("."))
    val yml = appDir.resolve("graph.yml")
    val title = a.opt("title")
    val location = a.positional.headOption.getOrElse("")
    val tpe =
      if (a.opt("component").nonEmpty) "component"
      else a.opt("type", "function")

    tpe match {
      case "component" =>
        val key =
          if (a.opt("component").nonEmpty) a.opt("component") else location
        if (key.isEmpty) abort(
          "component names look like org/component@v1 — pass one")
        GraphConfigEditor(yml)
          .addComponentUses(key, title = if (title.isEmpty) null else title)
          .write()
        println(s"Added component $key to app")
      case "webhook" =>
        if (location.isEmpty) abort("pass the webhook name")
        val ed = GraphConfigEditor(yml)
          .addWebhook(location, title = if (title.isEmpty) null else title)
        // auto-create the same-name output table if absent
        // (create.py:177-197)
        try ed.addTable(location)
        catch { case _: IllegalArgumentException => () }
        ed.write()
        println(s"Created webhook $location")
      case "table" =>
        if (title.nonEmpty) abort("Tables cannot have titles")
        if (location.isEmpty) abort("pass the table name")
        GraphConfigEditor(yml).addTable(location).write()
        println(s"Added table $location to app")
      case "function" =>
        if (location.isEmpty) abort(
          "pass a node file: something.sql, something.scala, or dir/graph.yml")
        val loc = Paths.get(location)
        val abs = if (loc.isAbsolute) loc else appDir.resolve(loc).normalize
        if (Files.exists(abs)) abort(s"Cannot create node: $abs already exists")
        val rel = appDir.toAbsolutePath.normalize
          .relativize(abs.toAbsolutePath.normalize)
          .iterator.asScala.mkString("/")
        val nodeTitle =
          if (title.nonEmpty) title
          else if (abs.getFileName.toString == "graph.yml")
            abs.getParent.getFileName.toString
          else abs.getFileName.toString.replaceAll("\\.[^.]+$", "")
        val ed = GraphConfigEditor(yml).addNode(rel, title =
          if (title.isEmpty) null else title)
        abs.getFileName.toString match {
          case f if f.endsWith(".sql") =>
            Files.createDirectories(abs.getParent)
            Files.writeString(abs, SqlTemplate)
          case f if f.endsWith(".scala") =>
            Files.createDirectories(abs.getParent)
            Files.writeString(abs, ScalaTemplate)
          case "graph.yml" =>
            Files.createDirectories(abs.getParent)
            GraphConfigEditor.empty(Some(abs)).setName(nodeTitle).write()
          case _ => abort(
            "Node file must be graph.yml or end in .sql or .scala")
        }
        ed.write()
        println(s"Created node $rel")
        println("Once you've edited the node, use `graft upload`")
      case other => abort(s"Unknown node type '$other'")
    }
  }

  // ------------------------------------------------------- upload/download

  /** `upload [--force] [--diff] [--publish-component] [APP]`
    * (upload.py:24-63): conflict-preview against the registry's latest
    * version, then store the next version zip.
    */
  private def upload(a: Args): Unit = {
    val dir = resolveAppDir(a.positional.headOption.getOrElse(""))
    val org = defaultOrg(a.opt("organization"))
    val slug = slugOf(dir)
    val meta = readMeta(org, slug)

    if (!a.flag("force")) meta.filter(_.latest > 0).foreach { m =>
      val remote = readVersionZip(org, slug, m.latest)
      val diffs = GraphDiff.diffZipAndDir(remote, dir, fromRemote = false)
      if (diffs.nonEmpty) {
        println("Upload would change the following files:\n")
        println(diffs.render(full = a.flag("diff")))
        println("\nRun this command with --force to upload the app" +
          (if (a.flag("diff")) "" else ", or --diff to see detailed differences"))
        throw new Abort("")
      }
    }

    val v = meta.map(_.latest).getOrElse(0) + 1
    val zip = Packaging.packageGraph(dir.toString)
    Files.createDirectories(versionZip(org, slug, v).getParent)
    Files.write(versionZip(org, slug, v), zip)
    val title = GraphConfigEditor(dir.resolve("graph.yml"))
      .getTitle.getOrElse(slug)
    writeMeta(org, slug, Meta(title, slug,
      meta.exists(_.public), v))
    println(s"Uploaded new app version with id ${appUid(org, slug)}-v$v")
    if (a.flag("publish-component"))
      // the version zip doubles as the component zip:
      // ComponentRegistryServer serves <org>/<slug>/<version>.zip and
      // componentResolverFromZips reads the same key, so publishing is
      // the upload itself — report the uses: key
      println(s"Published app component $org/$slug@v$v")
  }

  /** `download [--force] [--diff] [APP] [DIR]` (download.py:23-73). */
  private def download(a: Args): Unit = {
    val org = defaultOrg(a.opt("organization"))
    val appArg = a.positional.headOption.getOrElse("")
    // slug in the registry, or empty → the app in the cwd
    val (slug, root) =
      if (appArg.isEmpty) {
        val dir = nearestGraphDir(Paths.get("."))
        (slugOf(dir), dir)
      } else {
        val dirArg = a.positional.drop(1).headOption
        (appArg, Paths.get(dirArg.getOrElse(appArg)).toAbsolutePath.normalize)
      }
    val meta = readMeta(org, slug)
      .filter(_.latest > 0)
      .getOrElse(abort(s"app '$slug' not found in organization '$org'"))
    val zip = readVersionZip(org, slug, meta.latest)
    Files.createDirectories(root) // fresh-clone target: diff walks it

    if (a.flag("force")) {
      Packaging.unpack(zip, root.toString)
      println(s"Downloaded app $slug")
    } else {
      val diffs = GraphDiff.diffZipAndDir(zip, root, fromRemote = true)
      if (diffs.changed.isEmpty) {
        Packaging.unpack(zip, root.toString)
        println(s"Downloaded app $slug")
      } else {
        println("Download would overwrite the following files:\n")
        println(diffs.render(full = a.flag("diff")))
        println("\nRun this command with --force to overwrite local files" +
          (if (a.flag("diff")) "" else ", or --diff to see detailed differences"))
        throw new Abort("")
      }
    }
  }

  // ------------------------------------------------------------------ list

  /** `list apps|webhooks [--json]` (list.py). */
  private def list(a: Args): Unit = a.positional.headOption.getOrElse("") match {
    case "apps" =>
      val org = defaultOrg(a.opt("organization"))
      val orgDir = registryRoot.resolve(org)
      val apps =
        if (!Files.isDirectory(orgDir)) Nil
        else {
          val stream = Files.list(orgDir)
          val dirs = try stream.iterator().asScala.toList finally stream.close()
          dirs.filter(Files.isDirectory(_)).sortBy(_.getFileName.toString)
            .flatMap { d =>
              readMeta(org, d.getFileName.toString).map { m =>
                Seq("title" -> m.title, "slug" -> m.slug,
                  "uid" -> appUid(org, m.slug), "latest" -> s"v${m.latest}",
                  "public" -> m.public.toString)
              }
            }
        }
      printObjects("apps", apps, a.flag("json"))
    case "webhooks" =>
      val dir = resolveAppDir(a.positional.drop(1).headOption.getOrElse(""))
      val manifest = GraphManifest.load(dir.toString)
      val hooks = manifest.functions.filter(_.kind == "webhook").map { f =>
        Seq("webhook" -> f.webhook.get, "id" -> f.id.getOrElse(""),
          // the serving URL shape of graft.graph.WebhookServer
          "url" -> s"http://127.0.0.1:<port>/webhooks/${f.webhook.get}")
      }
      printObjects("webhooks", hooks, a.flag("json"))
    case "organizations" =>
      val orgs =
        if (!Files.isDirectory(registryRoot)) Nil
        else {
          val stream = Files.list(registryRoot)
          val dirs = try stream.iterator().asScala.toList finally stream.close()
          dirs.filter(Files.isDirectory(_)).sortBy(_.getFileName.toString)
            .map(d => Seq("slug" -> d.getFileName.toString))
        }
      printObjects("organizations", orgs, a.flag("json"))
    case "secrets" =>
      // list.py:52-66 — the platform API omits sensitive values from
      // the listing; mirror that by masking them
      val org = defaultOrg(a.opt("organization"))
      val dir = registryRoot.resolve(org).resolve(".secrets")
      val secrets =
        if (!Files.isDirectory(dir)) Nil
        else {
          val stream = Files.list(dir)
          val files = try stream.iterator().asScala.toList finally stream.close()
          files.filter(_.getFileName.toString.endsWith(".json"))
            .sortBy(_.getFileName.toString).map { f =>
              val m = readJson(f)
              val sensitive = m.getOrElse("sensitive", "false") == "true"
              Seq("name" -> m.getOrElse("name", ""),
                "value" -> (if (sensitive) "" else m.getOrElse("value", "")),
                "sensitive" -> sensitive.toString,
                "description" -> m.getOrElse("description", ""))
            }
        }
      printObjects("secrets", secrets, a.flag("json"))
    case other => abort(
      s"unknown list type '$other' — expected apps, webhooks, " +
        "organizations, or secrets")
  }

  private def printObjects(name: String, rows: Seq[Seq[(String, String)]],
      json: Boolean): Unit =
    if (rows.isEmpty) { if (!json) println(s"No $name found") }
    else if (json) rows.foreach(r => println(jsonLine(r.map { case (k, v) => k -> JString(v) })))
    else {
      val headers = rows.head.map(_._1)
      val widths = headers.zipWithIndex.map { case (h, i) =>
        (h.length +: rows.map(_(i)._2.length)).max }
      def line(cells: Seq[String]): String =
        cells.zip(widths).map { case (c, w) => c.padTo(w, ' ') }.mkString("  ")
      println(line(headers))
      println(line(widths.map("-" * _)))
      rows.foreach(r => println(line(r.map(_._2))))
    }

  // --------------------------------------------------------------- trigger

  /** `trigger [--app DIR] [--node-id ID] [--due NOW] [NODE_PATH]`
    * (trigger.py:18-56): run one node of a local app immediately on a
    * local Spark session. With `--due <ISO datetime|now>` instead of a
    * node, evaluate every node's `trigger:` cron against the app's
    * last-run ledger ([[graft.graph.GraphScheduler]]) and run the due
    * ones — the G2 poll step, injectable-clock testable (cron.yml's
    * `trigger: 1 * * * *` field finally selects nodes at runtime).
    */
  private def trigger(a: Args): Unit = {
    val dueAt = Option(a.opt("due")).filter(_.nonEmpty)
    if (dueAt.isDefined) {
      // --due selects nodes by cron schedule; a positional node path or
      // --node-id would be silently ignored — refuse the combination,
      // mirroring the node-path/node-id conflict guard below (ADVICE r13)
      if (a.positional.nonEmpty || a.opt("node-id").nonEmpty)
        abort("Cannot combine --due with a NODE path or --node-id " +
          "(--due runs every cron-due node)")
      triggerDue(a, dueAt.get); return
    }
    val nodePath = a.positional.headOption
    val nodeId = Option(a.opt("node-id")).filter(_.nonEmpty)
    if (nodePath.isDefined && nodeId.isDefined)
      abort("Cannot specify both --node-id and NODE path argument")
    if (nodePath.isEmpty && nodeId.isEmpty)
      abort("Must specify one of --node-id or NODE path argument")

    val dir =
      if (a.opt("app").nonEmpty) resolveAppDir(a.opt("app"))
      else nearestGraphDir(
        nodePath.map(Paths.get(_)).getOrElse(Paths.get(".")))
    val manifest = GraphManifest.load(dir.toString)
    val id = nodeId.getOrElse {
      val rel = dir.toAbsolutePath.normalize
        .relativize(Paths.get(nodePath.get).toAbsolutePath.normalize)
        .iterator.asScala.mkString("/")
      manifest.functions
        .find(_.nodeFile.contains(rel))
        .flatMap(f => f.id.orElse(Some(f.displayName)))
        .getOrElse(abort(s"no node with node_file '$rel' in ${dir.resolve("graph.yml")}"))
    }

    withRunner(dir, manifest, s"graft-trigger-$id", registryResolver) { runner =>
      runner.runNode(id)
      println(s"Triggered node ${nodePath.getOrElse(id)}")
    }
  }

  /** The `--due` poll: one [[Scheduler]] tick over the app's last-run
    * ledger runs every cron-due node, subgraph and component nodes
    * included (catch-up rule, GraphScheduler scaladoc), and their
    * downstream consumers, and advances the ledger to the poll instant.
    * Exposed with an explicit `now` so specs drive it with an injected
    * clock; `--due now` uses the wall clock. A poll with nothing due
    * starts no Spark session. Follow-ups the runs request are recorded,
    * but the poll exits before they come due: persisting them waits
    * for a durable run log (ROADMAP direction 2).
    */
  private def triggerDue(a: Args, at: String): Unit = {
    val dir =
      if (a.opt("app").nonEmpty) resolveAppDir(a.opt("app"))
      else nearestGraphDir(Paths.get("."))
    val manifest = GraphManifest.load(dir.toString)
    val now =
      if (at == "now") java.time.LocalDateTime.now()
      else java.time.LocalDateTime.parse(at)
    val ledger = Paths.get(warehouseFor(dir)).resolve("_scheduler")
      .resolve("last_runs.tsv")
    val lastRuns = GraphScheduler.loadLastRuns(ledger)
    val resolver = registryResolver
    val due = GraphScheduler.due(manifest.flatNodes(resolver), lastRuns, now)
    if (due.isEmpty) { println("No nodes due."); return }
    withRunner(dir, manifest, "graft-trigger-due", resolver) { runner =>
      val scheduler = new Scheduler(runner, lastRuns)
      val ran = scheduler.tick(now)
      // ledger advances to the POLL instant (not each node's cron
      // minute): nextAfter(now) is the next real firing either way,
      // and a crash mid-poll re-runs at most this poll's nodes
      GraphScheduler.saveLastRuns(ledger, scheduler.lastRuns)
      println(s"Triggered ${due.size} due node(s), ran: ${ran.mkString(", ")}")
    }
  }

  private def warehouseFor(dir: Path): String =
    sys.env.getOrElse("GRAFT_WAREHOUSE", dir.resolve(".graft-warehouse").toString)

  private def registryResolver: String => Option[GraphManifest] =
    Packaging.componentResolverFromZips(registryRoot.toString)

  /** Run `body` against a runner for the app in `dir`. Reuses the
    * process's session when it has one (a spec, a notebook); otherwise
    * builds one through the shared session config (graft.Sessions), so
    * the CLI plans queries under the same semantics Bench measures and
    * Verify checks, and stops only a session it created itself.
    */
  private def withRunner(dir: Path, manifest: GraphManifest, appName: String,
      resolver: String => Option[GraphManifest])(body: GraphRunner => Unit): Unit = {
    val existing = org.apache.spark.sql.SparkSession.getDefaultSession
    val spark = existing.getOrElse {
      val s = graft.Sessions.configure(
        org.apache.spark.sql.SparkSession.builder()
          .master(sys.env.getOrElse("GRAFT_MASTER", "local[*]"))
          .appName(appName),
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    try body(new GraphRunner(spark, manifest, warehouseFor(dir),
      componentResolver = resolver))
    finally if (existing.isEmpty) spark.stop()
  }

  // ---------------------------------------------------- delete/update/config

  /** `delete [--force] APP` (delete.py): remove the app from the
    * registry — never local files.
    */
  private def delete(a: Args): Unit = {
    val org = defaultOrg(a.opt("organization"))
    val appArg = a.positional.headOption.getOrElse("")
    val slug =
      if (appArg.nonEmpty && readMeta(org, appArg).isDefined) appArg
      else slugOf(resolveAppDir(appArg))
    if (readMeta(org, slug).isEmpty)
      abort(s"app '$slug' not found in organization '$org'")
    if (!a.flag("force"))
      abort(s"This removes app '$slug' from the registry. " +
        "Re-run with --force to confirm (local files are never deleted).")
    val dir = registryRoot.resolve(org).resolve(slug)
    val stream = Files.walk(dir)
    try stream.sorted(java.util.Comparator.reverseOrder[Path]())
      .iterator().asScala.foreach(Files.delete)
    finally stream.close()
    println("App deleted from the registry.")
  }

  /** `update app [--public|--private] [--deprecated|--no-deprecated] [APP]` (update.py). */
  private def update(a: Args): Unit = {
    if (!a.positional.headOption.contains("app"))
      abort("usage: graft update app [--public|--private] [--deprecated|--no-deprecated] [APP]")
    val org = defaultOrg(a.opt("organization"))
    val appArg = a.positional.drop(1).headOption.getOrElse("")
    val slug =
      if (appArg.nonEmpty && readMeta(org, appArg).isDefined) appArg
      else slugOf(resolveAppDir(appArg))
    val meta = readMeta(org, slug)
      .getOrElse(abort(s"app '$slug' not found in organization '$org'"))
    val pub =
      if (a.flag("public")) Some(true)
      else if (a.flag("private")) Some(false)
      else None
    // --deprecated/--no-deprecated (update.py:29-31): the component-
    // registry deprecation flag, stored on the same meta record
    val dep =
      if (a.flag("deprecated")) Some(true)
      else if (a.flag("no-deprecated")) Some(false)
      else None
    val updated = meta.copy(
      public = pub.getOrElse(meta.public),
      deprecated = dep.getOrElse(meta.deprecated))
    if (pub.isDefined || dep.isDefined) {
      writeMeta(org, slug, updated)
      println("Updated app successfully")
    }
  }

  /** `config [--organization SLUG] [--json]` (config.py:18-52 — text
    * mode leads with the config-file location line and prints the k/v
    * rows; JSON mode folds the location in as a "config file" key).
    */
  private def config(a: Args): Unit = {
    val org = a.opt("organization")
    if (org.nonEmpty) writeConfig(readConfig() + ("organization" -> org))
    val cfg = readConfig()
    val rows = Seq(
      "organization" -> cfg.getOrElse("organization", "local"),
      "registry" -> registryRoot.toString)
    if (a.flag("json"))
      println(jsonLine((rows :+ ("config file" -> configPath.toString))
        .map { case (k, v) => k -> JString(v) }))
    else {
      println(s"Your graft config is located at $configPath")
      rows.foreach { case (k, v) => println(s"$k: $v") }
    }
  }

  // ------------------------------------------------------------------ main

  private val help =
    """|graft — Spark-native devkit CLI
       |
       |Commands:
       |  create app [--name NAME] DIRECTORY
       |  create node [--app DIR] [--title T] [--type function|component|webhook|table] LOCATION
       |  create secret [--sensitive] [--description D] NAME VALUE
       |  upload [--force] [--diff] [--publish-component] [APP]
       |  download [--force] [--diff] [APP] [DIR]
       |  list apps|webhooks|organizations|secrets [--json]
       |  trigger [--app DIR] [--node-id ID] [--due ISO_DATETIME|now] [NODE_PATH]
       |  delete [--force] APP
       |  update app [--public|--private] [--deprecated|--no-deprecated] [APP]
       |  config [--organization SLUG] [--json]
       |  version
       |""".stripMargin

  /** Run one command; returns the process exit code (testable — no
    * System.exit inside).
    */
  def run(argv: Array[String]): Int =
    try {
      argv.toList match {
        case Nil | ("--help" | "-h" | "help") :: _ => println(help); 0
        case "version" :: _ | "--version" :: _ =>
          println("graft devkit CLI version 0.1.0"); 0
        case "create" :: "app" :: rest => createApp(parse(rest)); 0
        case "create" :: "node" :: rest => createNode(parse(rest)); 0
        case "create" :: "secret" :: rest => createSecret(parse(rest)); 0
        case "create" :: _ =>
          abort("usage: graft create app|node|secret ...")
        case "upload" :: rest => upload(parse(rest)); 0
        case "download" :: rest => download(parse(rest)); 0
        case "list" :: rest => list(parse(rest)); 0
        case "trigger" :: rest => trigger(parse(rest)); 0
        case "delete" :: rest => delete(parse(rest)); 0
        case "update" :: rest => update(parse(rest)); 0
        case "config" :: rest => config(parse(rest)); 0
        case ("login" | "logout") :: _ =>
          println("login/logout authenticate against the proprietary " +
            "platform (commands/login.py) and have no local counterpart; " +
            "the local registry needs no auth.")
          0
        case cmd :: _ => abort(s"unknown command '$cmd'\n$help")
      }
    } catch {
      case e: Abort =>
        if (e.getMessage.nonEmpty) System.err.println(e.getMessage)
        1
    }

  def main(args: Array[String]): Unit = sys.exit(run(args))
}
