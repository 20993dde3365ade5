package graft.graph

import java.nio.file.{Files, Paths}
import graft.SparkSpec
import graft.core.StreamCursor
import org.apache.spark.sql.functions._

class GraphRunnerSpec extends SparkSpec {

  private def write(dir: String, name: String, text: String): Unit =
    Files.writeString(Paths.get(dir, name), text)

  test("manifest parse covers the full graph.yml vocabulary (FIXTURES.md B1)") {
    val dir = tmpDir("graph")
    val m = GraphManifest.parse(
      """title: graph
        |functions:
        |  - webhook: hook
        |  - node_file: node.sql
        |    trigger: 1 * * * *
        |    inputs:
        |      node_in: hook
        |    outputs:
        |      node_out: my_table
        |    parameters:
        |      limit: 2
        |    title: my node
        |    id: ab234567
        |  - uses: org/component@v1
        |    inputs: {node_in: hook}
        |    outputs: {node_out: my_table}
        |stores:
        |  - table: my_table
        |    schema: sc
        |  - stream: s
        |""".stripMargin, Paths.get(dir))
    assert(m.functions.size == 3)
    assert(m.functions(0).kind == "webhook")
    val n = m.functions(1)
    assert(n.kind == "sql" && n.id.contains("ab234567") &&
      n.trigger.contains("1 * * * *") &&
      n.inputs == Map("node_in" -> "hook") &&
      n.outputs == Map("node_out" -> "my_table") &&
      n.parameters == Map("limit" -> 2))
    assert(m.functions(2).kind == "component")
    assert(m.stores == List(StoreDef("my_table", "table", Some("sc")),
      StoreDef("s", "stream", None)))
  }

  test("compile validation mirrors platform errors (upload.py:76-85)") {
    val dir = tmpDir("graph")
    write(dir, "q.sql", "select 1")
    write(dir, "graph.yml",
      """functions:
        |  - node_file: q.sql
        |    inputs: {in: nosuchstore}
        |    outputs: {out: t}
        |    parameters: {p: MISSING}
        |  - node_file: z.sql
        |    id: zerostep
        |    trigger: "*/0 * * * *"
        |  - node_file: m.sql
        |    id: minute61
        |    trigger: 61 * * * *
        |stores:
        |  - table: t
        |""".stripMargin)
    val runner = new GraphRunner(spark, GraphManifest.load(dir), tmpDir("wh"))
    val errors = runner.validate()
    assert(errors.exists(_.contains("unknown store 'nosuchstore'")))
    assert(errors.exists(_.contains("Parameter p has no default or value")))
    // a malformed trigger fails the compile, not the first cron poll
    assert(errors.exists(_.startsWith("node zerostep: invalid trigger '*/0 * * * *': ")))
    assert(errors.exists(_.startsWith("node minute61: invalid trigger '61 * * * *': ")))
  }

  test("typed parameters + connections validate at compile (node.py:513-542)") {
    val dir = tmpDir("graph")
    write(dir, "graph.yml",
      """functions:
        |  - node_file: typed.scala
        |    id: typednode
        |    outputs: {out: t}
        |    parameters:
        |      started_at: not-a-datetime
        |      max_rows: "50"
        |      db: proddb
        |stores:
        |  - table: t
        |""".stripMargin)
    val impl = new CodeNode {
      override def params: Seq[ParamSpec] = Seq(
        ParamSpec("started_at", "datetime"),
        ParamSpec("max_rows", "int"),
        ParamSpec("db", "connection"),
        ParamSpec("api", "connection"),
        ParamSpec("threshold", "float"), // required, unbound
        ParamSpec("mode", "str", default = "full")) // defaulted, unbound: ok
      override def run(ctx: NodeContext): Unit = ()
    }
    val bad = new GraphRunner(spark, GraphManifest.load(dir), tmpDir("wh"),
      codeNodes = Map("typed.scala" -> impl))
    val errors = bad.validate()
    assert(errors.exists(e => e.contains("'started_at' expected datetime")))
    assert(errors.exists(e => e.contains("'max_rows' expected int")))
    assert(errors.exists(_.contains("connection 'proddb' is not bound")))
    assert(errors.exists(_.contains("connection 'api' is not bound")))
    assert(errors.exists(_.contains("Parameter threshold has no default or value")))
    assert(!errors.exists(_.contains("mode")), s"defaulted param must not error: $errors")

    // same manifest with well-typed bindings and registered bundles compiles
    write(dir, "graph.yml",
      """functions:
        |  - node_file: typed.scala
        |    id: typednode
        |    outputs: {out: t}
        |    parameters:
        |      started_at: 2026-08-13 10:00:00
        |      max_rows: 50
        |      db: proddb
        |      threshold: 0.5
        |stores:
        |  - table: t
        |""".stripMargin)
    val good = new GraphRunner(spark, GraphManifest.load(dir), tmpDir("wh"),
      codeNodes = Map("typed.scala" -> impl),
      connections = Map(
        "proddb" -> Map("host" -> "db.internal", "user" -> "svc"),
        "api" -> Map("token" -> "tok")))
    assert(good.validate().isEmpty, good.validate().mkString("; "))
    // NodeContext surfaces the bundle and the declared default
    val node = good.flatNodes.head._2
    val ctx = new NodeContext(spark, "typednode", good, node)
    assert(ctx.connection("db") == Map("host" -> "db.internal", "user" -> "svc"))
    assert(ctx.connection("api") == Map("token" -> "tok")) // unbound → own name
    assert(ctx.parameter[String]("mode") == "full")        // spec default
    assert(ctx.parameter[Int]("max_rows") == 50)
  }

  test("describe renders node titles, description files, and wiring; duplicates are compile errors") {
    val dir = tmpDir("graph")
    write(dir, "agg.sql", "select 1 as one")
    write(dir, "about_agg.md", "Aggregates the daily totals.\nMore detail here.")
    write(dir, "graph.yml",
      """title: my pipeline
        |functions:
        |  - node_file: agg.sql
        |    id: aggnode01
        |    title: daily totals
        |    description_file: about_agg.md
        |    trigger: 0 3 * * *
        |    inputs: {in: raw}
        |    outputs: {out: agg}
        |stores:
        |  - table: raw
        |  - table: agg
        |""".stripMargin)
    val m = GraphManifest.load(dir)
    assert(m.functions.head.descriptionFile.contains("about_agg.md"))
    val d = m.describe
    assert(d.contains("graph: my pipeline"))
    assert(d.contains("title: daily totals"))
    assert(d.contains("Aggregates the daily totals."))   // first line only
    assert(!d.contains("More detail here."))
    assert(d.contains("trigger: 0 3 * * *"))
    assert(d.contains("in<-raw") && d.contains("out->agg"))
    assert(d.contains("- table raw"))

    // duplicate node_file / id rejected like the reference's editor
    write(dir, "graph.yml",
      """functions:
        |  - node_file: agg.sql
        |    id: aggnode01
        |    outputs: {out: agg}
        |  - node_file: agg.sql
        |    id: aggnode01
        |    outputs: {out: agg2}
        |stores:
        |  - table: agg
        |  - table: agg2
        |""".stripMargin)
    val errors = new GraphRunner(spark, GraphManifest.load(dir), tmpDir("wh")).validate()
    assert(errors.exists(_.contains("node_file 'agg.sql' already defined in the graph configuration")))
    assert(errors.exists(_.contains("id 'aggnode01' already defined in the graph configuration")))
    assert(errors.exists(_.contains("node id 'aggnode01' is ambiguous after expansion")))
  }

  test("compile validation detects store-mediated cycles") {
    val dir = tmpDir("graph")
    write(dir, "a.sql", "select 1 as one from {{ tb }}")
    write(dir, "b.sql", "select 1 as one from {{ ta }}")
    write(dir, "graph.yml",
      """functions:
        |  - node_file: a.sql
        |    id: nodea0001
        |    inputs: {tb: tb}
        |    outputs: {out: ta}
        |  - node_file: b.sql
        |    id: nodeb0001
        |    inputs: {ta: ta}
        |    outputs: {out: tb}
        |stores:
        |  - table: ta
        |  - table: tb
        |""".stripMargin)
    val runner = new GraphRunner(spark, GraphManifest.load(dir), tmpDir("wh"))
    assert(runner.validate().exists(_.contains("cycle")))
  }

  test("end-to-end SQL pipeline: the SURVEY §7.2 minimum slice") {
    val dir = tmpDir("graph")
    write(dir, "agg.sql",
      """select l_returnflag, l_linestatus,
        |  sum(l_quantity) as qty,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) as rev,
        |  count(*) as cnt
        |from {{ lineitem }}
        |where l_quantity <= {{ max_qty }}
        |group by 1, 2 order by 1, 2""".stripMargin)
    write(dir, "graph.yml",
      """title: slice
        |functions:
        |  - node_file: agg.sql
        |    id: aggnode01
        |    inputs: {lineitem: lineitem_raw}
        |    outputs: {out: lineitem_agg}
        |    parameters: {max_qty: 50}
        |stores:
        |  - table: lineitem_raw
        |  - table: lineitem_agg
        |""".stripMargin)
    val wh = tmpDir("wh")
    val runner = new GraphRunner(spark, GraphManifest.load(dir), wh)
    // seed the input store from the fixture
    val seed = runner.tableHandle("lineitem_raw")
    seed.append(graft.Fixtures.table(spark, "/root/testdata/sf0.001", "lineitem"))
    seed.flush()
    runner.run()
    val out = runner.tableHandle("lineitem_agg").read
    val direct = graft.Fixtures.table(spark, "/root/testdata/sf0.001", "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity").as("qty"),
        round(sum(expr("l_extendedprice * (1 - l_discount)")), 2).as("rev"),
        count(lit(1)).as("cnt"))
    assert(out.count() == direct.count())
    assert(out.exceptAll(direct.select(out.columns.map(col): _*)).count() == 0)
  }

  test("code node + stream cursor + upsert chain (FIXTURES.md B3 shape)") {
    val dir = tmpDir("graph")
    write(dir, "graph.yml",
      """functions:
        |  - node_file: enrich.scala
        |    id: enrich01
        |    inputs: {events: events}
        |    outputs: {out: enriched}
        |stores:
        |  - table: events
        |  - table: enriched
        |""".stripMargin)
    val wh = tmpDir("wh")
    val enrich = new CodeNode {
      def run(ctx: NodeContext): Unit = {
        val out = ctx.table("out").init(uniqueOn = Seq("event_id"))
        val stream = ctx.stream("events", orderBy = Some("event_id"))
        out.upsert(stream.df().withColumn("flag", lit(1)))
        out.flush()
        stream.seek(stream.df().agg(max("event_id")).head().get(0) match {
          case null => 0L
          case v => v
        })
        stream.checkpoint()
      }
    }
    val runner = new GraphRunner(spark, GraphManifest.load(dir),
      wh, codeNodes = Map("enrich.scala" -> enrich))
    import spark.implicits._
    val seed = runner.tableHandle("events")
      .init(strictlyMonotonicOrdering = Some("event_id"))
    seed.append(Seq((1L, "a"), (2L, "b")).toDF("event_id", "etype")); seed.flush()
    runner.run()
    assert(runner.tableHandle("enriched").read.count() == 2)
    // incremental: append more events, re-run, no duplicates + only new consumed
    seed.append(Seq((3L, "c")).toDF("event_id", "etype")); seed.flush()
    runner.run()
    val enriched = runner.tableHandle("enriched").read
    assert(enriched.count() == 3)
    assert(enriched.select("event_id").distinct().count() == 3)
  }

  test("subgraph expansion with exposed ports (FIXTURES.md B2)") {
    val dir = tmpDir("graph")
    Files.createDirectories(Paths.get(dir, "sub"))
    write(dir, "sub/inner.sql", "select 1 as one")
    write(dir, "sub/graph.yml",
      """exposes:
        |  outputs:
        |    - output
        |functions:
        |  - node_file: inner.sql
        |    id: inner001
        |    outputs: {out: output}
        |stores:
        |  - table: output
        |""".stripMargin)
    write(dir, "graph.yml",
      """functions:
        |  - node_file: sub/graph.yml
        |    id: subnode01
        |stores:
        |  - table: output
        |""".stripMargin)
    val runner = new GraphRunner(spark, GraphManifest.load(dir), tmpDir("wh"))
    assert(runner.flatNodes.map(_._1) == List("subnode01/inner001"))
    runner.run()
    assert(runner.tableHandle("output").read.count() == 1)
  }

  test("webhook ingest appends to same-name store and triggers downstream") {
    val dir = tmpDir("graph")
    write(dir, "consume.sql", "select count(*) as n from {{ hook }}")
    write(dir, "graph.yml",
      """functions:
        |  - webhook: hook
        |  - node_file: consume.sql
        |    id: consume01
        |    inputs: {hook: hook}
        |    outputs: {out: counts}
        |stores:
        |  - table: counts
        |""".stripMargin)
    val runner = new GraphRunner(spark, GraphManifest.load(dir), tmpDir("wh"))
    val drop = tmpDir("hook")
    Files.writeString(Paths.get(drop, "batch1.json"),
      """{"patterns_request_key":"r1","payload":7}
        |{"patterns_request_key":"r2","payload":8}
        |""".stripMargin)
    runner.ingestWebhook("hook", drop)
    runner.run()
    assert(runner.tableHandle("counts").read.head().getLong(0) == 2L)
    // respond_to_request: payload row keyed by patterns_request_key
    runner.respondToRequest("hook", "r1", Map("status" -> "ok", "n" -> 2L))
    val resp = runner.tableHandle("hook_responses").read
    assert(resp.count() == 1)
    assert(resp.head().getAs[String]("patterns_request_key") == "r1")
    // a null field keeps the recorded column type, so r1's body is unchanged
    val first = runner.webhookResponse("hook", "r1")
    assert(first.exists(_.contains("\"n\":2")), first)
    runner.respondToRequest("hook", "r2", Map("status" -> "ok", "n" -> null))
    assert(runner.tableHandle("hook_responses").schema("n").dataType.sql == "BIGINT")
    assert(runner.webhookResponse("hook", "r1") == first)
  }

  test("a JSON null keeps the recorded type on both inference ingest paths") {
    val dir = tmpDir("graph")
    write(dir, "graph.yml",
      """functions:
        |  - webhook: hook
        |stores: []
        |""".stripMargin)
    val runner = new GraphRunner(spark, GraphManifest.load(dir), tmpDir("wh"))
    def types = runner.tableHandle("hook").schema.map(f => f.name -> f.dataType.sql).toMap
    // bodies: the second does not fit the recorded schema (new field e)
    runner.ingestWebhookJson("hook", Seq("""{"a": 1}"""), "r1")
    runner.ingestWebhookJson("hook", Seq("""{"a": null, "e": 2}"""), "r2")
    assert(types("a") == "BIGINT" && types("e") == "BIGINT", types)
    // file ingest always infers
    val drop = tmpDir("hook")
    Files.writeString(Paths.get(drop, "batch1.json"), "{\"a\": null, \"f\": 3}\n")
    runner.ingestWebhook("hook", drop)
    assert(types("a") == "BIGINT" && types("f") == "BIGINT", types)
    assert(runner.tableHandle("hook").read.filter("a is null").count() == 2)
  }

  test("component resolution from a local registry (uses: org/component@v1)") {
    val comp = tmpDir("component")
    write(comp, "count.sql", "select count(*) as n from {{ input }}")
    write(comp, "graph.yml",
      """functions:
        |  - node_file: count.sql
        |    id: count001
        |    inputs: {input: src}
        |    outputs: {out: result}
        |stores:
        |  - table: src
        |  - table: result
        |""".stripMargin)
    val reg = tmpDir("registry")
    Files.createDirectories(Paths.get(reg, "acme", "wordcount"))
    Packaging.packageGraphTo(comp, s"$reg/acme/wordcount/v1.zip")
    val dir = tmpDir("graph")
    write(dir, "graph.yml",
      """functions:
        |  - uses: acme/wordcount@v1
        |    id: comp00001
        |stores:
        |  - table: src
        |  - table: result
        |""".stripMargin)
    val resolver = Packaging.componentResolverFromZips(reg)
    val runner = new GraphRunner(spark, GraphManifest.load(dir), tmpDir("wh"),
      componentResolver = resolver)
    assert(runner.validate().isEmpty)
    import spark.implicits._
    val seed = runner.tableHandle("src")
    seed.append(Seq(1L, 2L, 3L).toDF("id")); seed.flush()
    runner.run()
    assert(runner.tableHandle("result").read.head().getLong(0) == 3L)
    // unresolvable component → compile error, mirroring the platform
    val bad = new GraphRunner(spark, GraphManifest.load(dir), tmpDir("wh"))
    assert(bad.validate().exists(_.contains("component 'acme/wordcount@v1' not found")))
    // path-shaped keys are not registry keys: nothing resolves outside the root
    assert(resolver("../..@v1").isEmpty && resolver("acme/../wordcount@v1").isEmpty)
  }

  test("scheduler: cron tick runs the node, propagates downstream, honors requestNewRun") {
    import java.time.LocalDateTime
    val dir = tmpDir("graph")
    write(dir, "consume.sql", "select count(*) as n from {{ src }}")
    write(dir, "graph.yml",
      """functions:
        |  - node_file: chunker.scala
        |    id: chunker01
        |    trigger: 0 * * * *
        |    outputs: {out: src}
        |  - node_file: consume.sql
        |    id: consume01
        |    inputs: {src: src}
        |    outputs: {out: counts}
        |stores:
        |  - table: src
        |  - table: counts
        |""".stripMargin)
    // a chunked job: writes one batch per run, asks for a follow-up until done
    val chunker = new CodeNode {
      def run(ctx: NodeContext): Unit = {
        val done = ctx.state.getOrElse("batches", 0L).asInstanceOf[Long]
        val out = ctx.table("out")
        out.appendRecords(Seq(Map("batch" -> done)))
        out.flush()
        ctx.state.set("batches", done + 1)
        if (done + 1 < 3) ctx.state.requestNewRun(waitAtleastSeconds = 60)
      }
    }
    val runner = new GraphRunner(spark, GraphManifest.load(dir), tmpDir("wh"),
      codeNodes = Map("chunker.scala" -> chunker))
    val sched = new Scheduler(runner)
    // cron fires at minute 0 → first batch + downstream count
    val ran1 = sched.tick(LocalDateTime.of(2026, 1, 1, 9, 0))
    assert(ran1.contains("chunker01") && ran1.contains("consume01"))
    assert(runner.tableHandle("counts").read.head().getLong(0) == 1L)
    assert(sched.pendingFollowUps.contains("chunker01"))
    // non-due minute: only the follow-up fires
    val ran2 = sched.tick(LocalDateTime.of(2026, 1, 1, 9, 2))
    assert(ran2.contains("chunker01"))
    assert(runner.tableHandle("counts").read.head().getLong(0) == 2L)
    // third batch via follow-up, then no more requests
    sched.tick(LocalDateTime.of(2026, 1, 1, 9, 4))
    assert(runner.tableHandle("src").read.count() == 3)
    assert(sched.tick(LocalDateTime.of(2026, 1, 1, 9, 6)).isEmpty)
  }

  test("out-of-band write: stale consumer reruns exactly once, change signals drain") {
    val dir = tmpDir("graph")
    write(dir, "graph.yml",
      """functions:
        |  - node_file: consumer.scala
        |    id: consume01
        |    inputs: {side: side}
        |    outputs: {out: sink}
        |  - node_file: writer.scala
        |    id: writer01
        |    outputs: {out: a_out}
        |stores:
        |  - table: side
        |  - table: a_out
        |  - table: sink
        |""".stripMargin)
    val consumed = new java.util.concurrent.atomic.AtomicInteger
    val consumer = new CodeNode {
      def run(ctx: NodeContext): Unit = { consumed.incrementAndGet(); () }
    }
    val writer = new CodeNode {
      def run(ctx: NodeContext): Unit = {
        val out = ctx.table("out")
        out.appendRecords(Seq(Map("x" -> 1L))); out.flush()
        // NOT a declared output — topo order cannot sequence the
        // consumer after this write; the stale loop must
        val side = ctx.table("side")
        side.appendRecords(Seq(Map("y" -> 1L))); side.flush()
      }
    }
    val runner = new GraphRunner(spark, GraphManifest.load(dir), tmpDir("wh"),
      codeNodes = Map("consumer.scala" -> consumer, "writer.scala" -> writer))
    runner.run()
    // topo pass ran the consumer before the out-of-band write; the
    // stale wave reran it exactly once
    assert(consumed.get == 2)
    // consumed change signals drained: a later wave has nothing to do
    assert(runner.drain(java.time.LocalDateTime.now()).isEmpty)
    assert(consumed.get == 2)
  }

  test("requestNewRun(triggerDownstream=false) suppresses the FOLLOW-UP run's propagation") {
    import java.time.LocalDateTime
    val dir = tmpDir("graph")
    write(dir, "consume.sql", "select count(*) as n from {{ src }}")
    write(dir, "graph.yml",
      """functions:
        |  - node_file: chunker.scala
        |    id: chunker01
        |    trigger: 0 * * * *
        |    outputs: {out: src}
        |  - node_file: consume.sql
        |    id: consume01
        |    inputs: {src: src}
        |    outputs: {out: counts}
        |stores:
        |  - table: src
        |  - table: counts
        |""".stripMargin)
    val chunker = new CodeNode {
      def run(ctx: NodeContext): Unit = {
        val done = ctx.state.getOrElse("batches", 0L).asInstanceOf[Long]
        val out = ctx.table("out")
        out.appendRecords(Seq(Map("batch" -> done))); out.flush()
        ctx.state.set("batches", done + 1)
        if (done == 0L)
          ctx.state.requestNewRun(triggerDownstream = false, waitAtleastSeconds = 60)
      }
    }
    val runner = new GraphRunner(spark, GraphManifest.load(dir), tmpDir("wh"),
      codeNodes = Map("chunker.scala" -> chunker))
    val sched = new Scheduler(runner)
    // the run that CALLS requestNewRun(false) still propagates normally
    // (the flag governs the requested follow-up, node.py request_new_run)
    val ran1 = sched.tick(LocalDateTime.of(2026, 1, 1, 9, 0))
    assert(ran1.contains("chunker01") && ran1.contains("consume01"))
    assert(runner.tableHandle("counts").read.head().getLong(0) == 1L)
    // the follow-up run executes but its writes do NOT trigger downstream
    val ran2 = sched.tick(LocalDateTime.of(2026, 1, 1, 9, 2))
    assert(ran2.contains("chunker01") && !ran2.contains("consume01"))
    assert(runner.tableHandle("src").read.count() == 2)
    assert(runner.tableHandle("counts").read.head().getLong(0) == 1L)
  }

  test("scheduler: ticks that skip the cron minute still run the node once per period") {
    import java.time.LocalDateTime
    val dir = tmpDir("graph")
    write(dir, "graph.yml",
      """functions:
        |  - node_file: hourly.scala
        |    id: hourly01
        |    trigger: 1 * * * *
        |""".stripMargin)
    val runs = new java.util.concurrent.atomic.AtomicInteger
    val hourly = new CodeNode {
      def run(ctx: NodeContext): Unit = { runs.incrementAndGet(); () }
    }
    val runner = new GraphRunner(spark, GraphManifest.load(dir), tmpDir("wh"),
      codeNodes = Map("hourly.scala" -> hourly))
    val sched = new Scheduler(runner)
    // a never-run node is due on its first tick (catch-up rule)
    assert(sched.tick(LocalDateTime.of(2026, 1, 1, 9, 30)) == Seq("hourly01"))
    // 09:59 is before the 10:01 firing; 10:02 is past it though no tick
    // landed on 10:01, so the node runs exactly once for that period
    assert(sched.tick(LocalDateTime.of(2026, 1, 1, 9, 59)).isEmpty)
    assert(sched.tick(LocalDateTime.of(2026, 1, 1, 10, 2)) == Seq("hourly01"))
    assert(sched.tick(LocalDateTime.of(2026, 1, 1, 10, 3)).isEmpty)
    assert(runs.get == 2)
  }

  test("two producers of one store is a compile error (waves would race)") {
    val dir = tmpDir("graph")
    write(dir, "graph.yml",
      """functions:
        |  - node_file: a.sql
        |    id: writera1
        |    inputs: {src: src}
        |    outputs: {out: shared}
        |  - node_file: b.sql
        |    id: writerb1
        |    inputs: {src: src}
        |    outputs: {out: shared}
        |stores:
        |  - table: src
        |  - table: shared
        |""".stripMargin)
    write(dir, "a.sql", "select 1 as one from {{ src }}")
    write(dir, "b.sql", "select 2 as two from {{ src }}")
    val runner = new GraphRunner(spark, GraphManifest.load(dir), tmpDir("wh"))
    val errs = runner.validate()
    assert(errs.exists(_.contains("multiple producers")), errs.mkString("; "))
  }

  private def writerGraph(node: CodeNode): GraphRunner = {
    val dir = tmpDir("graph")
    write(dir, "graph.yml",
      """functions:
        |  - node_file: w.scala
        |    id: writer01
        |    outputs: {out: written}
        |stores:
        |  - table: written
        |""".stripMargin)
    new GraphRunner(spark, GraphManifest.load(dir), tmpDir("wh"),
      codeNodes = Map("w.scala" -> node))
  }

  test("a code node's unflushed writes commit when its run returns") {
    val runner = writerGraph(new CodeNode {
      def run(ctx: NodeContext): Unit = {
        // two lookups of one port share the run's handle
        ctx.table("out").append(spark.range(3).toDF("n"))
        ctx.table("written").append(spark.range(3, 5).toDF("n"))
      }
    })
    runner.runNode("writer01")
    assert(runner.tableHandle("written").read.count() == 5)
  }

  test("a code node that throws commits nothing it left pending") {
    val runner = writerGraph(new CodeNode {
      def run(ctx: NodeContext): Unit = {
        ctx.table("out").append(spark.range(3).toDF("n"))
        throw new IllegalStateException("node failed")
      }
    })
    intercept[IllegalStateException](runner.runNode("writer01"))
    assert(!runner.tableHandle("written").exists)
  }

  test("a muted follow-up leaves a consumer's other pending input to propagate") {
    import java.time.LocalDateTime
    val dir = tmpDir("graph")
    write(dir, "graph.yml",
      """functions:
        |  - node_file: chunker.scala
        |    id: chunker01
        |    trigger: 0 * * * *
        |    outputs: {out: src}
        |  - node_file: consumer.scala
        |    id: consume01
        |    inputs: {src: src, side: side}
        |stores:
        |  - table: src
        |  - table: side
        |""".stripMargin)
    val chunker = new CodeNode {
      def run(ctx: NodeContext): Unit = {
        ctx.table("out").appendRecords(Seq(Map("x" -> 1L)))
        if (ctx.state.get("asked").isEmpty) {
          ctx.state.set("asked", true)
          ctx.state.requestNewRun(triggerDownstream = false, waitAtleastSeconds = 60)
        }
      }
    }
    val consumer = new CodeNode { def run(ctx: NodeContext): Unit = () }
    val runner = new GraphRunner(spark, GraphManifest.load(dir), tmpDir("wh"),
      codeNodes = Map("chunker.scala" -> chunker, "consumer.scala" -> consumer))
    val sched = new Scheduler(runner)
    assert(sched.tick(LocalDateTime.of(2026, 1, 1, 9, 0)) == Seq("chunker01", "consume01"))
    // a change the muted follow-up did not make is still pending
    val side = runner.tableHandle("side")
    side.appendRecords(Seq(Map("y" -> 1L)))
    side.flush()
    assert(sched.tick(LocalDateTime.of(2026, 1, 1, 9, 2)) == Seq("chunker01", "consume01"))
  }

  test("scheduler: a follow-up requested by a propagated run is scheduled") {
    import java.time.LocalDateTime
    val dir = tmpDir("graph")
    write(dir, "graph.yml",
      """functions:
        |  - node_file: producer.scala
        |    id: producer01
        |    trigger: 0 * * * *
        |    outputs: {out: src}
        |  - node_file: consumer.scala
        |    id: consume01
        |    inputs: {src: src}
        |stores:
        |  - table: src
        |""".stripMargin)
    val producer = new CodeNode {
      def run(ctx: NodeContext): Unit = ctx.table("out").appendRecords(Seq(Map("x" -> 1L)))
    }
    val runs = new java.util.concurrent.atomic.AtomicInteger
    val consumer = new CodeNode {
      def run(ctx: NodeContext): Unit =
        if (runs.incrementAndGet() == 1) ctx.state.requestNewRun(waitAtleastSeconds = 60)
    }
    val runner = new GraphRunner(spark, GraphManifest.load(dir), tmpDir("wh"),
      codeNodes = Map("producer.scala" -> producer, "consumer.scala" -> consumer))
    val sched = new Scheduler(runner)
    assert(sched.tick(LocalDateTime.of(2026, 1, 1, 9, 0)) == Seq("producer01", "consume01"))
    assert(sched.pendingFollowUps.keySet == Set("consume01"))
    assert(sched.tick(LocalDateTime.of(2026, 1, 1, 9, 2)) == Seq("consume01"))
    assert(runs.get == 2 && sched.pendingFollowUps.isEmpty)
  }

  test("a follow-up requested by a node that run() ran is run by a later tick") {
    import java.time.LocalDateTime
    val dir = tmpDir("graph")
    write(dir, "graph.yml",
      """functions:
        |  - node_file: chunker.scala
        |    id: chunker01
        |""".stripMargin)
    val runs = new java.util.concurrent.atomic.AtomicInteger
    val chunker = new CodeNode {
      def run(ctx: NodeContext): Unit =
        if (runs.incrementAndGet() == 1) ctx.state.requestNewRun(waitAtleastSeconds = 60)
    }
    val runner = new GraphRunner(spark, GraphManifest.load(dir), tmpDir("wh"),
      codeNodes = Map("chunker.scala" -> chunker))
    runner.run()
    val sched = new Scheduler(runner)
    assert(sched.tick(LocalDateTime.now()).isEmpty, "not before its wait")
    assert(sched.tick(LocalDateTime.now().plusMinutes(5)) == Seq("chunker01"))
    assert(runs.get == 2 && sched.pendingFollowUps.isEmpty)
  }

  test("a follow-up whose run throws loses only itself: the one queued behind it still runs") {
    import java.time.LocalDateTime
    val dir = tmpDir("graph")
    write(dir, "graph.yml",
      """functions:
        |  - node_file: a.scala
        |    id: chunkera1
        |    trigger: 0 * * * *
        |  - node_file: b.scala
        |    id: chunkerb1
        |    trigger: 0 * * * *
        |""".stripMargin)
    val runs = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    def chunker(failSecond: Boolean) = new CodeNode {
      def run(ctx: NodeContext): Unit = {
        val n = runs.merge(ctx.nodeId, 1, _ + _)
        if (n == 1) ctx.state.requestNewRun(waitAtleastSeconds = 60)
        else if (failSecond) throw new IllegalStateException("follow-up failed")
      }
    }
    val runner = new GraphRunner(spark, GraphManifest.load(dir), tmpDir("wh"),
      codeNodes = Map("a.scala" -> chunker(true), "b.scala" -> chunker(false)))
    val sched = new Scheduler(runner)
    assert(sched.tick(LocalDateTime.of(2026, 1, 1, 9, 0)) == Seq("chunkera1", "chunkerb1"))
    assert(sched.pendingFollowUps.keySet == Set("chunkera1", "chunkerb1"))
    // both follow-ups are due; the first one's run throws
    intercept[IllegalStateException](sched.tick(LocalDateTime.of(2026, 1, 1, 9, 2)))
    assert(sched.pendingFollowUps.keySet == Set("chunkerb1"))
    assert(sched.tick(LocalDateTime.of(2026, 1, 1, 9, 3)) == Seq("chunkerb1"))
    assert(runs.get("chunkera1") == 2 && runs.get("chunkerb1") == 2)
    assert(sched.pendingFollowUps.isEmpty)
  }

  private def streamGraph(node: CodeNode): (GraphRunner, org.apache.spark.sql.DataFrame => Unit) = {
    val dir = tmpDir("graph")
    write(dir, "graph.yml",
      """functions:
        |  - node_file: r.scala
        |    id: reader01
        |    inputs: {events: events}
        |stores:
        |  - table: events
        |""".stripMargin)
    val runner = new GraphRunner(spark, GraphManifest.load(dir), tmpDir("wh"),
      codeNodes = Map("r.scala" -> node))
    val events = runner.tableHandle("events").init(strictlyMonotonicOrdering = Some("id"))
    (runner, df => { events.append(df); events.flush() })
  }

  private def ids(df: org.apache.spark.sql.DataFrame) = df.toDF("id")

  test("shouldContinue counts from the start of the current run") {
    val reads = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    val (runner, _) = streamGraph(new CodeNode {
      def run(ctx: NodeContext): Unit = reads += ctx.state.shouldContinue(limitMs = 1000L)
    })
    runner.runNode("reader01")
    Thread.sleep(1200L)
    runner.runNode("reader01")
    assert(reads == Seq(true, true))
  }

  test("stream progress persists when a run returns without checkpoint()") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[List[Any]]
    val (runner, append) = streamGraph(new CodeNode {
      def run(ctx: NodeContext): Unit =
        seen += ctx.stream("events").records().map(_("id")).toList
    })
    import spark.implicits._
    append(ids(Seq(1L, 2L).toDF()))
    runner.runNode("reader01")
    append(ids(Seq(3L).toDF()))
    runner.runNode("reader01")
    assert(seen == Seq(List(1L, 2L), List(3L)))
  }

  test("a run that consumes and then throws persists no stream position") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[List[Any]]
    var fail = true
    val (runner, append) = streamGraph(new CodeNode {
      def run(ctx: NodeContext): Unit = {
        seen += ctx.stream("events").records().map(_("id")).toList
        if (fail) throw new IllegalStateException("node failed")
      }
    })
    import spark.implicits._
    append(ids(Seq(1L, 2L).toDF()))
    intercept[IllegalStateException](runner.runNode("reader01"))
    fail = false
    runner.runNode("reader01")
    assert(seen == Seq(List(1L, 2L), List(1L, 2L)))
  }

  test("rollback() before returning leaves the last checkpoint in place") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[List[Any]]
    val (runner, append) = streamGraph(new CodeNode {
      def run(ctx: NodeContext): Unit = {
        val cur = ctx.stream("events")
        val it = cur.records()
        seen += List(it.next()("id"))
        cur.checkpoint()
        if (it.hasNext) it.next()
        cur.rollback()
      }
    })
    import spark.implicits._
    append(ids(Seq(1L, 2L, 3L).toDF()))
    runner.runNode("reader01")
    runner.runNode("reader01")
    assert(seen == Seq(List(1L), List(2L)))
  }

  test("a scheduled run and a webhook wave of one node never overlap: each record consumed once") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import scala.jdk.CollectionConverters._
    val dir = tmpDir("graph")
    write(dir, "graph.yml",
      """functions:
        |  - webhook: hook
        |  - node_file: c.scala
        |    id: consumer01
        |    trigger: 0 * * * *
        |    inputs: {hook: hook}
        |stores: []
        |""".stripMargin)
    val consumed = new java.util.concurrent.ConcurrentLinkedQueue[Any]()
    val inBody = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val runs = new java.util.concurrent.atomic.AtomicInteger(0)
    val consumer = new CodeNode {
      def run(ctx: NodeContext): Unit = {
        ctx.stream("hook", Some("patterns_request_key")).records().foreach(r => consumed.add(r("n")))
        if (runs.incrementAndGet() == 1) {
          // the scheduled run holds its slice while the edge ingests and
          // propagates; the edge releases it, or it moves on after 1.5 s
          inBody.countDown()
          release.await(1500, TimeUnit.MILLISECONDS)
        }
      }
    }
    val runner = new GraphRunner(spark, GraphManifest.load(dir), tmpDir("wh"),
      codeNodes = Map("c.scala" -> consumer))
    runner.ingestWebhookJson("hook", Seq("""{"n": 1}"""), "k1")
    val edge = new Thread(() => {
      inBody.await()
      runner.ingestWebhookJson("hook", Seq("""{"n": 2}"""), "k2")
      runner.drain(java.time.LocalDateTime.now())
      release.countDown()
    })
    edge.start()
    new Scheduler(runner).tick(java.time.LocalDateTime.of(2026, 1, 1, 9, 0))
    edge.join(60000L)
    assert(!edge.isAlive)
    runner.drain(java.time.LocalDateTime.now())
    assert(consumed.asScala.toSeq == Seq(1L, 2L), "each hook record consumed exactly once")
    assert(runs.get == 2)
  }

  test("a scheduled node that ingests into a webhook re-enters the ingest lock") {
    val dir = tmpDir("graph")
    write(dir, "graph.yml",
      """functions:
        |  - webhook: hook
        |  - node_file: fwd.scala
        |    id: fwd01
        |    trigger: 0 * * * *
        |  - node_file: c.scala
        |    id: consumer01
        |    inputs: {hook: hook}
        |stores: []
        |""".stripMargin)
    val consumed = scala.collection.mutable.ArrayBuffer.empty[Any]
    lazy val runner: GraphRunner = new GraphRunner(spark, GraphManifest.load(dir), tmpDir("wh"),
      codeNodes = Map(
        "fwd.scala" -> new CodeNode {
          def run(ctx: NodeContext): Unit = runner.ingestWebhookJson("hook", Seq("""{"n": 7}"""), "k1")
        },
        "c.scala" -> new CodeNode {
          def run(ctx: NodeContext): Unit =
            ctx.stream("hook", Some("patterns_request_key")).records()
              .foreach(r => consumed += r("n"))
        }))
    val tick = scala.concurrent.Future(new Scheduler(runner).tick(
      java.time.LocalDateTime.of(2026, 1, 1, 9, 0)))(scala.concurrent.ExecutionContext.global)
    val ran = scala.concurrent.Await.result(tick, scala.concurrent.duration.Duration(60, "s"))
    assert(ran == Seq("fwd01", "consumer01"))
    assert(consumed == Seq(7L))
  }
}
