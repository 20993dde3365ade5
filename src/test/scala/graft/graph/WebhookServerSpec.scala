package graft.graph

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import graft.SparkSpec
import graft.core.StreamCursor

class WebhookServerSpec extends SparkSpec {

  private def write(dir: String, name: String, text: String): Unit =
    Files.writeString(Paths.get(dir, name), text)

  private def post(url: String, body: String): HttpResponse[String] =
    HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(url))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("POST ingests a row, downstream consumes it, response row returned over HTTP") {
    val dir = tmpDir("graph")
    write(dir, "graph.yml",
      """functions:
        |  - webhook: hook
        |  - node_file: responder.scala
        |    id: respond01
        |    inputs: {hook: hook}
        |    outputs: {out: seen}
        |stores:
        |  - table: seen
        |""".stripMargin)
    val responder = new CodeNode {
      def run(ctx: NodeContext): Unit = {
        val cur = ctx.stream("hook", Some("patterns_request_key"))
        val responses = ctx.table("hook_responses")
        val seen = ctx.table("out")
        cur.records().foreach { rec =>
          val key = rec("patterns_request_key").toString
          responses.appendRecords(Seq(Map(
            "patterns_request_key" -> key,
            "echoed" -> rec("value"),
            "status" -> "ok")))
          seen.appendRecords(Seq(Map("key" -> key)))
        }
        responses.flush(); seen.flush()
        cur.checkpoint()
      }
    }
    val runner = new GraphRunner(spark, GraphManifest.load(dir), tmpDir("wh"),
      codeNodes = Map("responder.scala" -> responder))
    val server = new WebhookServer(runner, port = 0, responseTimeoutMs = 30000)
    try {
      // fire-and-forget: 202 + request key, row landed, downstream ran
      val r1 = post(server.url("hook"), """{"value": 7}""")
      assert(r1.statusCode() == 202, r1.body())
      assert(r1.body().contains("patterns_request_key"))
      assert(runner.tableHandle("hook").read.count() == 1)
      assert(runner.tableHandle("seen").read.count() == 1)

      // wait=true: blocks until the responder's row arrives, returns payload
      val r2 = post(server.url("hook") + "?wait=true", """{"value": 42}""")
      assert(r2.statusCode() == 200, r2.body())
      assert(r2.body().contains("\"status\":\"ok\""))
      assert(r2.body().contains("42"))
      assert(!r2.body().contains("patterns_request_key")) // plumbing stripped
      assert(runner.tableHandle("seen").read.count() == 2)

      // malformed body / wrong method rejected cleanly
      assert(post(server.url("hook"), "not json").statusCode() == 400)
      val get = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(server.url("hook"))).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(get.statusCode() == 405)
    } finally server.stop()
  }

  test("independent branches of one wave execute concurrently") {
    val dir = tmpDir("graph")
    write(dir, "graph.yml",
      """functions:
        |  - node_file: a.scala
        |    id: brancha1
        |    inputs: {src: src}
        |    outputs: {out: outa}
        |  - node_file: b.scala
        |    id: branchb1
        |    inputs: {src: src}
        |    outputs: {out: outb}
        |stores:
        |  - table: src
        |  - table: outa
        |  - table: outb
        |""".stripMargin)
    // both nodes must be inside run() at the same instant to pass the
    // barrier; sequential execution would time out here
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def node(tag: String) = new CodeNode {
      def run(ctx: NodeContext): Unit = {
        barrier.await(15, java.util.concurrent.TimeUnit.SECONDS)
        val out = ctx.table("out")
        out.appendRecords(Seq(Map("tag" -> tag)))
        out.flush()
      }
    }
    val runner = new GraphRunner(spark, GraphManifest.load(dir), tmpDir("wh"),
      codeNodes = Map("a.scala" -> node("a"), "b.scala" -> node("b")))
    import spark.implicits._
    val src = runner.tableHandle("src")
    src.append(Seq(1L).toDF("id")); src.flush()
    assert(runner.waveOrder.exists(w =>
      w.toSet == Set("brancha1", "branchb1"))) // same wave, no false dep
    runner.run()
    assert(runner.tableHandle("outa").read.count() == 1)
    assert(runner.tableHandle("outb").read.count() == 1)
  }

  test("wait=true blocks on the respond latch, not a table-poll loop") {
    val dir = tmpDir("graph")
    write(dir, "graph.yml",
      """functions:
        |  - webhook: hook
        |stores: []
        |""".stripMargin)
    val runner = new GraphRunner(spark, GraphManifest.load(dir), tmpDir("wh"))
    val server = new WebhookServer(runner, port = 0, responseTimeoutMs = 30000)
    val exec = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      val fut = exec.submit(new java.util.concurrent.Callable[HttpResponse[String]] {
        def call(): HttpResponse[String] =
          post(server.url("hook") + "?wait=true", """{"q": 1}""")
      })
      // wait for the waiter to finish its single up-front response check
      val deadline = System.nanoTime() + 20L * 1000000000L
      while (runner.responseReads.get() < 1 && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(runner.responseReads.get() == 1, "waiter should check the table once")
      // while blocked on the latch there must be NO further table reads
      // (the old implementation fired a parquet-scan job every 50 ms)
      Thread.sleep(800)
      assert(runner.responseReads.get() == 1,
        s"waiter polled the table while blocked: ${runner.responseReads.get()} reads")
      // respond from outside the propagation wave — the latch must wake it
      val key = runner.tableHandle("hook").read
        .select("patterns_request_key").head().getString(0)
      runner.respondToRequest("hook", key, Map("answer" -> 99, "status" -> "ok"))
      val resp = fut.get(20, java.util.concurrent.TimeUnit.SECONDS)
      assert(resp.statusCode() == 200, resp.body())
      assert(resp.body().contains("99") && resp.body().contains("ok"))
      assert(runner.responseReads.get() <= 2,
        s"waited request took ${runner.responseReads.get()} table reads (max 2)")
    } finally { server.stop(); exec.shutdown() }
  }

  test("concurrent posts all land exactly once (pooled dispatch, serialized ingest)") {
    val dir = tmpDir("graph")
    write(dir, "graph.yml",
      """functions:
        |  - webhook: hook
        |stores: []
        |""".stripMargin)
    val runner = new GraphRunner(spark, GraphManifest.load(dir), tmpDir("wh"))
    val server = new WebhookServer(runner)
    try {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
      val futs = (1 to 12).map { i =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = post(server.url("hook"), s"""{"n":$i}""").statusCode()
        })
      }
      assert(futs.map(_.get()).forall(_ == 202))
      pool.shutdown()
      val rows = runner.tableHandle("hook").read
      assert(rows.count() == 12)
      assert(rows.select("n").collect().map(_.getLong(0)).sorted.toSeq == (1L to 12L))
      assert(rows.select("patterns_request_key").distinct().count() == 12)
    } finally server.stop()
  }

  test("a failing node gives a 500 whose body is valid JSON carrying the message") {
    val dir = tmpDir("graph")
    write(dir, "graph.yml",
      """functions:
        |  - webhook: hook
        |  - node_file: boom.scala
        |    id: boom0001
        |    inputs: {hook: hook}
        |stores: []
        |""".stripMargin)
    // two lines, a quote and a backslash, like a Spark analysis error
    val msg = "[UNRESOLVED_COLUMN] \"x\" not found\n\tat C:\\plan line 2"
    val boom = new CodeNode {
      def run(ctx: NodeContext): Unit = throw new IllegalStateException(msg)
    }
    val runner = new GraphRunner(spark, GraphManifest.load(dir), tmpDir("wh"),
      codeNodes = Map("boom.scala" -> boom))
    val server = new WebhookServer(runner)
    try {
      val r = post(server.url("hook"), """{"n":1}""")
      assert(r.statusCode() == 500, r.body())
      val json = org.json4s.jackson.JsonMethods.parse(r.body())
      assert((json \ "error") == org.json4s.JString(msg))
    } finally server.stop()
  }
}
