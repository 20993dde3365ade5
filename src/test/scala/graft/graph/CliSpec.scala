package graft.graph

import java.nio.file.{Files, Path, Paths}

import graft.SparkSpec
import graft.cli.Cli

/** The CLI command vocabulary end-to-end against a temp registry
  * (reference: the command modules under patterns/cli/commands/):
  * create app/node →
  * upload → list → download round-trip (conflict previews included) →
  * trigger a SQL node on the shared session → update/delete/config.
  */
class CliSpec extends SparkSpec {

  private def withSandbox[T](f: (Path, Path) => T): T = {
    val homeDir = Files.createTempDirectory("graft-cli-home")
    val work = Files.createTempDirectory("graft-cli-work")
    val prevHome = sys.props.get("graft.home")
    sys.props("graft.home") = homeDir.toString
    try f(homeDir, work)
    finally prevHome match {
      case Some(v) => sys.props("graft.home") = v
      case None => sys.props.remove("graft.home")
    }
  }

  private def run(args: String*): Int = Cli.run(args.toArray)

  test("create app + create node write a loadable graph.yml") {
    withSandbox { (_, work) =>
      val app = work.resolve("my-app").toString
      assert(run("create", "app", "--name", "My App", app) == 0)
      assert(run("create", "node", "--app", app, "--type", "table", "docs") == 0)
      assert(run("create", "node", "--app", app,
        s"$app/clean.sql") == 0)
      assert(run("create", "node", "--app", app, "--type", "webhook",
        "events_in") == 0)
      assert(Files.exists(Paths.get(app, "clean.sql")))
      val m = GraphManifest.load(app)
      assert(m.title.contains("My App"))
      assert(m.slug.contains("my-app"))
      assert(m.stores.map(_.name).toSet == Set("docs", "events_in"))
      assert(m.functions.exists(f => f.kind == "sql" &&
        f.nodeFile.contains("clean.sql") && f.id.exists(_.length == 8)))
      assert(m.functions.exists(f => f.kind == "webhook" &&
        f.webhook.contains("events_in")))
      // duplicate node file refuses
      assert(run("create", "node", "--app", app, s"$app/clean.sql") == 1)
      // unknown extension refuses
      assert(run("create", "node", "--app", app, s"$app/bad.py") == 1)
    }
  }

  test("upload / list / download round-trip with conflict previews") {
    withSandbox { (_, work) =>
      val app = work.resolve("rt-app").toString
      run("create", "app", "--name", "rt-app", app)
      run("create", "node", "--app", app, "--type", "table", "t1")
      assert(run("upload", app) == 0)
      // registry has v1 and the app lists
      val reg = Files.walk(Paths.get(sys.props("graft.home"), "registry"))
      val entries = try {
        import scala.jdk.CollectionConverters._
        reg.iterator().asScala.map(_.getFileName.toString).toSet
      } finally reg.close()
      assert(entries.contains("v1.zip") && entries.contains("meta.json"))
      // unchanged re-upload is clean (no diff) and bumps the version
      assert(run("upload", app) == 0)
      // a local edit makes the NEXT upload preview a conflict...
      Files.writeString(Paths.get(app, "notes.txt"), "hello\n")
      assert(run("upload", app) == 1)
      // ...which --force overrides
      assert(run("upload", "--force", app) == 0)

      // download into a fresh dir reproduces the files
      val clone = work.resolve("clone").toString
      assert(run("download", "rt-app", clone) == 0)
      assert(Files.readString(Paths.get(clone, "notes.txt")) == "hello\n")
      assert(GraphManifest.load(clone).stores.exists(_.name == "t1"))
      // a locally-changed clone refuses a plain download, takes --force
      Files.writeString(Paths.get(clone, "notes.txt"), "local edit\n")
      assert(run("download", "rt-app", clone) == 1)
      assert(run("download", "--force", "rt-app", clone) == 0)
      assert(Files.readString(Paths.get(clone, "notes.txt")) == "hello\n")
    }
  }

  /** Golden output lines of the conflict paths, matching the
    * reference's wording (upload.py:55-62, download.py:57-73 and the
    * test_upload.py/test_download.py shapes): upload previews changes
    * and points at --force/--diff; download never overwrites without
    * --force and never deletes local files it doesn't know about.
    */
  test("upload/download conflict flows print the reference's golden lines") {
    withSandbox { (_, work) =>
      val app = work.resolve("gold-app").toString
      run("create", "app", "--name", "gold-app", app)
      run("upload", app)
      def captured(args: String*): (Int, String) = {
        val buf = new java.io.ByteArrayOutputStream()
        val code = Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
          run(args: _*)
        }
        (code, buf.toString("UTF-8"))
      }
      // upload conflict: preview + remedy line (non-diff variant names both flags)
      Files.writeString(Paths.get(app, "extra.txt"), "new file\n")
      val (upCode, upOut) = captured("upload", app)
      assert(upCode == 1)
      assert(upOut.contains("Upload would change the following files:"))
      assert(upOut.contains("Run this command with --force to upload the app" +
        ", or --diff to see detailed differences"))
      // --diff variant shows the detail and drops the ", or --diff" tail
      val (_, upDiffOut) = captured("upload", "--diff", app)
      assert(upDiffOut.contains("Run this command with --force to upload the app"))
      assert(!upDiffOut.contains(", or --diff"))
      run("upload", "--force", app)

      // download conflict: never-overwrite + remedy line
      val clone = work.resolve("gold-clone").toString
      run("download", "gold-app", clone)
      Files.writeString(Paths.get(clone, "extra.txt"), "local divergence\n")
      val (dlCode, dlOut) = captured("download", "gold-app", clone)
      assert(dlCode == 1)
      assert(dlOut.contains("Download would overwrite the following files:"))
      assert(dlOut.contains("Run this command with --force to overwrite " +
        "local files, or --diff to see detailed differences"))
      // the conflicted file was NOT touched by the refused download
      assert(Files.readString(Paths.get(clone, "extra.txt")) ==
        "local divergence\n")
      // download never deletes: a file the app doesn't know about
      // survives even a --force download (download.py docstring)
      Files.writeString(Paths.get(clone, "unrelated.log"), "keep me\n")
      assert(run("download", "--force", "gold-app", clone) == 0)
      assert(Files.readString(Paths.get(clone, "unrelated.log")) == "keep me\n")
      assert(Files.readString(Paths.get(clone, "extra.txt")) == "new file\n")
    }
  }

  test("registry/meta hardening: missing zip aborts, quoted titles round-trip") {
    withSandbox { (home, work) =>
      // a meta.json whose zip vanished (crash mid-upload) aborts with a
      // clear message instead of a NoSuchFileException stack trace
      val app = work.resolve("hard-app").toString
      run("create", "app", "--name", "hard-app", app)
      run("upload", app)
      val zip = Paths.get(home.toString, "registry", "local", "hard-app", "v1.zip")
      Files.delete(zip)
      val err = new java.io.ByteArrayOutputStream()
      // Cli aborts go through System.err (not scala.Console), so swap
      // the JVM stream for the capture
      val prevErr = System.err
      val code =
        try {
          System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
          run("download", "hard-app", work.resolve("nowhere").toString)
        } finally System.setErr(prevErr)
      assert(code == 1)
      assert(err.toString("UTF-8").contains("registry is missing local/hard-app"))
      // upload (conflict preview reads the same zip) also aborts cleanly
      assert(run("upload", app) == 1)

      // a title containing a double quote and a backslash survives the
      // meta.json round-trip (writeMeta escapes; readMeta unescapes)
      val q = work.resolve("quoted-app").toString
      run("create", "app", "--name", """the "best\" app""", q)
      assert(run("upload", q) == 0)
      assert(run("update", "app", "--public", "the-best-app") == 0)
      val meta = Files.readString(Paths.get(home.toString,
        "registry", "local", "the-best-app", "meta.json"))
      assert(meta.contains("""the \"best\\\" app"""))
      // node files in a not-yet-created subdirectory get their parent
      assert(run("create", "node", "--app", q, s"$q/sub/dir/n.sql") == 0)
      assert(Files.exists(Paths.get(q, "sub", "dir", "n.sql")))
    }
  }

  test("create/list secrets: org scoping, sensitive masking, name validation") {
    withSandbox { (_, work) =>
      assert(run("create", "secret", "API_KEY", "sk-12345") == 0)
      assert(run("create", "secret", "--sensitive",
        "--description", "db password", "DB_PASS", "hunter2") == 0)
      assert(run("create", "secret", "-o", "acme", "OTHER", "v") == 0)
      // traversal-shaped names refuse
      assert(run("create", "secret", "../evil", "x") == 1)
      assert(run("create", "secret", "a/b", "x") == 1)
      def captured(args: String*): String = {
        val buf = new java.io.ByteArrayOutputStream()
        Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
          run(args: _*)
        }
        buf.toString("UTF-8")
      }
      val out = captured("list", "secrets")
      // non-sensitive value listed; sensitive value masked (list.py
      // mirrors the platform API omitting sensitive values)
      assert(out.contains("API_KEY") && out.contains("sk-12345"))
      assert(out.contains("DB_PASS") && out.contains("db password"))
      assert(!out.contains("hunter2"))
      // the default org doesn't see acme's secret, -o does
      assert(!out.contains("OTHER"))
      assert(captured("list", "secrets", "-o", "acme").contains("OTHER"))
      // json shape parses as a flat object per line
      val js = captured("list", "secrets", "--json")
      assert(js.linesIterator.count(_.startsWith("{")) == 2)
    }
  }

  test("--json output stays valid JSON for quoted titles and descriptions") {
    withSandbox { (_, work) =>
      def captured(args: String*): String = {
        val buf = new java.io.ByteArrayOutputStream()
        Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
          run(args: _*)
        }
        buf.toString("UTF-8")
      }
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      def parsedLines(out: String): Seq[com.fasterxml.jackson.databind.JsonNode] =
        out.linesIterator.filter(_.startsWith("{")).map(mapper.readTree).toSeq

      // app title with a quote and a backslash must survive list --json
      val q = work.resolve("qt-app").toString
      run("create", "app", "--name", """say "hi"\now""", q)
      assert(run("upload", q) == 0)
      val apps = parsedLines(captured("list", "apps", "--json"))
      assert(apps.exists(n => n.get("title") != null &&
        n.get("title").asText() == """say "hi"\now"""))

      // secret description with quotes/control chars must survive too
      assert(run("create", "secret", "--description", "the \"db\"\tpass",
        "QSEC", "v") == 0)
      val secrets = parsedLines(captured("list", "secrets", "--json"))
      assert(secrets.exists(n => n.get("description") != null &&
        n.get("description").asText() == "the \"db\"\tpass"))

      // config --json parses as one object
      val cfg = parsedLines(captured("config", "--json"))
      assert(cfg.size == 1 && cfg.head.get("organization") != null)
      assert(cfg.head.get("config file") != null) // JSON folds the path in
    }
  }

  test("config and list webhooks text goldens (config.py / list.py shapes)") {
    withSandbox { (home, work) =>
      def captured(args: String*): String = {
        val buf = new java.io.ByteArrayOutputStream()
        Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
          run(args: _*)
        }
        buf.toString("UTF-8")
      }
      // config text mode: location line first (config.py:50), then rows
      val cfgOut = captured("config").linesIterator.toList
      assert(cfgOut.head == s"Your graft config is located at ${home.resolve("config.json")}")
      assert(cfgOut.exists(_.startsWith("organization: ")))

      // list webhooks: per-app listing (list.py:70-78) with the
      // endpoint name and serving URL columns
      val app = work.resolve("hook-app")
      run("create", "app", "--name", "hook-app", app.toString)
      assert(run("create", "node", "--app", app.toString,
        "--type", "webhook", "ingest") == 0)
      val hooks = captured("list", "webhooks", app.toString)
      assert(hooks.linesIterator.next().matches("webhook\\s+id\\s+url\\s*"),
        s"header line was: ${hooks.linesIterator.next()}")
      assert(hooks.contains("ingest") && hooks.contains("/webhooks/ingest"))
      // and the JSON shape parses
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val js = captured("list", "webhooks", app.toString, "--json")
        .linesIterator.filter(_.startsWith("{")).map(mapper.readTree).toList
      assert(js.nonEmpty && js.head.get("webhook").asText() == "ingest")
    }
  }

  test("app uids are deterministic 8-char base32") {
    withSandbox { (_, work) =>
      val app = work.resolve("uid-app").toString
      run("create", "app", "--name", "uid-app", app)
      run("upload", app)
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
        run("list", "apps", "--json")
      }
      val uid = """"uid": "([a-z2-7]+)"""".r
        .findFirstMatchIn(out.toString("UTF-8")).map(_.group(1))
      assert(uid.exists(_.length == 8), s"uid was $uid")
    }
  }

  test("trigger runs a SQL node end-to-end on the shared session") {
    withSandbox { (_, work) =>
      val app = work.resolve("sqlapp")
      run("create", "app", "--name", "sqlapp", app.toString)
      Files.writeString(app.resolve("gen.sql"),
        "select 7 as answer\n")
      GraphConfigEditor(app.resolve("graph.yml"))
        .addTable("out_t")
        .addNode("gen.sql", outputs = Seq("result" -> "out_t"), id = "gennode01")
        .write()
      assert(run("trigger", "--app", app.toString,
        "--node-id", "gennode01") == 0)
      // the node's output landed in the app warehouse
      val runner = new GraphRunner(spark, GraphManifest.load(app.toString),
        app.resolve(".graft-warehouse").toString)
      val out = runner.tableHandle("out_t").read.collect()
      assert(out.map(_.getInt(0)).toSeq == Seq(7))
      // trigger by node PATH resolves through the manifest too
      assert(run("trigger", "--app", app.toString,
        app.resolve("gen.sql").toString) == 0)
      // bad arguments abort
      assert(run("trigger", "--app", app.toString) == 1)
    }
  }

  test("trigger --due runs cron-due nodes with an injected clock and advances the ledger") {
    withSandbox { (_, work) =>
      val app = work.resolve("cronapp")
      run("create", "app", "--name", "cronapp", app.toString)
      Files.writeString(app.resolve("gen.sql"), "select 7 as answer\n")
      Files.writeString(app.resolve("count.sql"), "select count(*) as n from {{ src }}\n")
      GraphConfigEditor(app.resolve("graph.yml"))
        .addTable("out_t")
        .addTable("count_t")
        .addNode("gen.sql", trigger = "1 * * * *",
          outputs = Seq("result" -> "out_t"), id = "cron01")
        .addNode("count.sql", inputs = Seq("src" -> "out_t"),
          outputs = Seq("result" -> "count_t"), id = "count01")
        .write()
      def due(at: String): String = {
        val out = new java.io.ByteArrayOutputStream()
        Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
          assert(run("trigger", "--app", app.toString, "--due", at) == 0)
        }
        out.toString("UTF-8")
      }
      // first poll: never-run node is due (catch-up), runs end-to-end
      assert(due("2026-01-01T05:01").contains("cron01"))
      val runner = new GraphRunner(spark, GraphManifest.load(app.toString),
        app.resolve(".graft-warehouse").toString)
      assert(runner.tableHandle("out_t").read.collect().map(_.getInt(0)).toSeq
        == Seq(7))
      // the due node's downstream consumer ran in the same poll
      assert(runner.tableHandle("count_t").read.collect().map(_.getLong(0)).toSeq
        == Seq(1L))
      // same period: nothing due; past the next boundary: due again
      assert(due("2026-01-01T05:30").contains("No nodes due"))
      assert(due("2026-01-01T06:01").contains("cron01"))
      // the ledger is the documented TSV under the warehouse
      val ledger = app.resolve(".graft-warehouse")
        .resolve("_scheduler").resolve("last_runs.tsv")
      assert(Files.readString(ledger).startsWith("cron01\t2026-01-01T06:01"))
      // --due + node selector is a refused conflict (ADVICE r13): the
      // selector used to be silently ignored while ALL due nodes ran
      assert(run("trigger", "--app", app.toString, "--due",
        "2026-01-01T07:01", app.resolve("gen.sql").toString) == 1)
      assert(run("trigger", "--app", app.toString, "--due",
        "2026-01-01T07:01", "--node-id", "cron01") == 1)
      // ...and the refusal did not advance the ledger or run the node
      assert(Files.readString(ledger).startsWith("cron01\t2026-01-01T06:01"))
    }
  }

  test("trigger --due runs a cron node declared inside a subgraph") {
    withSandbox { (_, work) =>
      val app = work.resolve("subcron")
      Files.createDirectories(app.resolve("sub"))
      Files.writeString(app.resolve("sub").resolve("gen.sql"), "select 7 as answer\n")
      Files.writeString(app.resolve("sub").resolve("graph.yml"),
        """functions:
          |  - node_file: gen.sql
          |    id: cron01
          |    trigger: 1 * * * *
          |    outputs: {result: out_t}
          |stores:
          |  - table: out_t
          |""".stripMargin)
      Files.writeString(app.resolve("graph.yml"),
        """functions:
          |  - node_file: sub/graph.yml
          |    id: subnode01
          |""".stripMargin)
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
        assert(run("trigger", "--app", app.toString, "--due", "2026-01-01T05:01") == 0)
      }
      assert(out.toString("UTF-8").contains("subnode01/cron01"), out.toString("UTF-8"))
      val runner = new GraphRunner(spark, GraphManifest.load(app.toString),
        app.resolve(".graft-warehouse").toString)
      assert(runner.tableHandle("out_t").read.collect().map(_.getInt(0)).toSeq == Seq(7))
      assert(Files.readString(app.resolve(".graft-warehouse")
        .resolve("_scheduler").resolve("last_runs.tsv"))
        .startsWith("subnode01/cron01\t2026-01-01T05:01"))
    }
  }

  test("update app --public, list --json, delete, config") {
    withSandbox { (home, work) =>
      val app = work.resolve("meta-app").toString
      run("create", "app", "--name", "meta-app", app)
      run("upload", app)
      assert(run("update", "app", "--public", "meta-app") == 0)
      assert(Files.readString(
        Paths.get(home.toString, "registry", "local", "meta-app", "meta.json"))
        .contains(""""public": true"""))
      // --deprecated flips the component-deprecation flag and keeps
      // --public intact; --no-deprecated flips it back
      assert(run("update", "app", "--deprecated", "meta-app") == 0)
      val metaDep = Files.readString(
        Paths.get(home.toString, "registry", "local", "meta-app", "meta.json"))
      assert(metaDep.contains(""""deprecated": true"""))
      assert(metaDep.contains(""""public": true"""))
      assert(run("update", "app", "--no-deprecated", "meta-app") == 0)
      assert(Files.readString(
        Paths.get(home.toString, "registry", "local", "meta-app", "meta.json"))
        .contains(""""deprecated": false"""))
      assert(run("list", "apps") == 0)
      assert(run("list", "apps", "--json") == 0)
      // delete requires --force, then removes the registry entry
      assert(run("delete", "meta-app") == 1)
      assert(run("delete", "--force", "meta-app") == 0)
      assert(!Files.exists(
        Paths.get(home.toString, "registry", "local", "meta-app")))
      // config set + read round-trips the default organization
      assert(run("config", "--organization", "acme") == 0)
      assert(Files.readString(home.resolve("config.json"))
        .contains(""""organization": "acme""""))
      // unknown command is an error
      assert(run("frobnicate") == 1)
    }
  }

  test("config, meta.json and secret files in the earlier hand-escaped layout still read") {
    withSandbox { (home, _) =>
      def captured(args: String*): String = {
        val buf = new java.io.ByteArrayOutputStream()
        Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
          run(args: _*)
        }
        buf.toString("UTF-8")
      }
      // byte for byte what the CLI wrote before it used json4s: lower-
      // case \u escapes, one space after each colon and comma
      val org = home.resolve("registry").resolve("acme")
      Files.createDirectories(org.resolve("old-app"))
      Files.createDirectories(org.resolve(".secrets"))
      Files.writeString(home.resolve("config.json"), """{"organization": "acme"}""" + "\n")
      Files.writeString(org.resolve("old-app").resolve("meta.json"),
        """{"title": "the \"old\" \\ app""" + "\\u0001" +
          """", "slug": "old-app", "public": true, "latest": 2, "deprecated": false}""" + "\n")
      Files.writeString(org.resolve(".secrets").resolve("K.json"),
        """{"name": "K", "value": "a\nb", "sensitive": false, "description": "tab\there"}""" + "\n")
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val app = mapper.readTree(captured("list", "apps", "--json").trim)
      assert(app.get("title").asText() == "the \"old\" \\ app\u0001")
      assert(app.get("latest").asText() == "v2" && app.get("public").asText() == "true")
      val secret = mapper.readTree(captured("list", "secrets", "--json").trim)
      assert(secret.get("value").asText() == "a\nb")
      assert(secret.get("description").asText() == "tab\there")
    }
  }

  test("edge cases: slug fallback, re-download to nested dir, org scoping") {
    withSandbox { (_, work) =>
      // an app whose graph.yml has NO slug/title falls back to the
      // directory name as its slug
      val bare = work.resolve("bare-dir")
      Files.createDirectories(bare)
      Files.writeString(bare.resolve("graph.yml"), "functions: []\n")
      assert(run("upload", bare.toString) == 0)
      assert(Files.exists(Paths.get(sys.props("graft.home"),
        "registry", "local", "bare-dir", "v1.zip")))
      // a different organization is a disjoint namespace
      assert(run("upload", "-o", "acme", bare.toString) == 0)
      assert(Files.exists(Paths.get(sys.props("graft.home"),
        "registry", "acme", "bare-dir", "v1.zip")))
      assert(run("download", "-o", "acme", "bare-dir",
        work.resolve("a/b/clone").toString) == 0)
      assert(Files.exists(work.resolve("a/b/clone/graph.yml")))
      // downloading an app that only exists in another org fails
      assert(run("download", "-o", "nosuch", "bare-dir",
        work.resolve("x").toString) == 1)
    }
  }

  test("uploaded versions serve as components: uses: resolves from the registry") {
    withSandbox { (home, work) =>
      // publish a tiny component app: one SQL node writing its output
      val comp = work.resolve("comp-app")
      run("create", "app", "--name", "comp-app", comp.toString)
      Files.writeString(comp.resolve("gen.sql"), "select 1 as one\n")
      GraphConfigEditor(comp.resolve("graph.yml"))
        .addTable("c_out")
        .addNode("gen.sql", outputs = Seq("result" -> "c_out"))
        .write()
      assert(run("upload", "--publish-component", comp.toString) == 0)
      // the version zip is resolvable through the component resolver
      // under the SAME org/slug@version key upload printed
      val resolver = Packaging.componentResolverFromZips(
        home.resolve("registry").toString)
      val resolved = resolver("local/comp-app@v1")
      assert(resolved.isDefined)
      assert(resolved.get.functions.exists(_.nodeFile.contains("gen.sql")))
    }
  }
}
