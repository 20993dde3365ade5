package graft.graph

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import graft.{JobCounter, SparkSpec}
import graft.core.StreamCursor
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}

class WebhookServerSpec extends SparkSpec {

  private def write(dir: String, name: String, text: String): Unit =
    Files.writeString(Paths.get(dir, name), text)

  private def post(url: String, body: String): HttpResponse[String] =
    HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(url))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  /** A webhook `hook` and a responder that streams its rows by request
    * key, writes each one's response row and records the key in `seen`.
    */
  private def echoRunner(warehouse: String = tmpDir("wh")): GraphRunner = {
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
    new GraphRunner(spark, GraphManifest.load(dir), warehouse,
      codeNodes = Map("responder.scala" -> responder))
  }

  test("POST ingests a row, downstream consumes it, response row returned over HTTP") {
    val runner = echoRunner()
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

  test("concurrent waited clients each get their own body: request keys commit in order") {
    val runner = echoRunner()
    val server = new WebhookServer(runner, port = 0, responseTimeoutMs = 10000)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futs = (0 until 4).map { c =>
        pool.submit(new java.util.concurrent.Callable[Seq[(Int, HttpResponse[String])]] {
          def call(): Seq[(Int, HttpResponse[String])] = (0 until 6).map { i =>
            val v = 100 * c + i
            v -> post(server.url("hook") + "?wait=true", s"""{"value": $v}""")
          }
        })
      }
      val answers = futs.flatMap(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      answers.foreach { case (v, r) =>
        assert(r.statusCode() == 200, s"value $v: ${r.body()}")
        assert(r.body().contains(s""""echoed":$v,"""), s"value $v: ${r.body()}")
      }
      val keys = runner.tableHandle("hook_responses").read
        .select("patterns_request_key").collect().map(_.getString(0)).toSeq
      assert(keys.size == 24 && keys.distinct.size == 24, "each key answered exactly once")
    } finally { pool.shutdown(); server.stop() }
  }

  test("a runner opened over an existing warehouse mints keys its responder has not passed") {
    val warehouse = tmpDir("wh")
    def answer(value: Int): HttpResponse[String] = {
      val server = new WebhookServer(echoRunner(warehouse), port = 0, responseTimeoutMs = 3000)
      try post(server.url("hook") + "?wait=true", s"""{"value": $value}""")
      finally server.stop()
    }
    Seq(1, 2, 3).foreach { v =>
      val r = answer(v)
      assert(r.statusCode() == 200, s"value $v: ${r.body()}")
      assert(r.body().contains(s""""echoed":$v,"""), s"value $v: ${r.body()}")
    }
  }

  test("a keep-alive reply does not wait out the client's delayed ACK") {
    val dir = tmpDir("graph")
    write(dir, "graph.yml",
      """functions:
        |  - webhook: hook
        |stores: []
        |""".stripMargin)
    val server = new WebhookServer(new GraphRunner(spark, GraphManifest.load(dir), tmpDir("wh")))
    val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    // the 400 path: a reply of headers and a short body, no table touched
    def roundTrip(): Double = {
      val t0 = System.nanoTime()
      val r = client.send(HttpRequest.newBuilder(URI.create(server.url("hook")))
        .POST(HttpRequest.BodyPublishers.ofString("not json")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 400, r.body())
      (System.nanoTime() - t0) / 1e6
    }
    try {
      roundTrip() // opens the connection
      val ms = Seq.fill(20)(roundTrip()).sorted
      info(f"median round trip ${ms(10)}%.1f ms")
      assert(ms(10) < 20, s"round trips (ms): ${ms.mkString(", ")}")
    } finally server.stop()
  }

  test("a follow-up requested by a node a POST ran is run by the next drain once due") {
    val dir = tmpDir("graph")
    write(dir, "graph.yml",
      """functions:
        |  - webhook: hook
        |  - webhook: other
        |  - node_file: c.scala
        |    id: chunker01
        |    inputs: {hook: hook}
        |stores: []
        |""".stripMargin)
    val runs = new java.util.concurrent.atomic.AtomicInteger
    val chunker = new CodeNode {
      def run(ctx: NodeContext): Unit = runs.incrementAndGet() match {
        case 1 => ctx.state.requestNewRun(waitAtleastSeconds = 0)
        case 2 => ctx.state.requestNewRun(waitAtleastSeconds = 60)
        case _ => ()
      }
    }
    val runner = new GraphRunner(spark, GraphManifest.load(dir), tmpDir("wh"),
      codeNodes = Map("c.scala" -> chunker))
    val server = new WebhookServer(runner)
    try {
      assert(post(server.url("hook"), """{"n": 1}""").statusCode() == 202)
      assert(runs.get == 1)
      // a POST to a webhook the node does not read drains its follow-up
      assert(post(server.url("other"), """{"n": 2}""").statusCode() == 202)
      assert(runs.get == 2)
      // the next one is not due for a minute: a POST leaves it, a tick runs it
      assert(post(server.url("other"), """{"n": 3}""").statusCode() == 202)
      assert(runs.get == 2)
      val sched = new Scheduler(runner)
      assert(sched.tick(java.time.LocalDateTime.now().plusMinutes(5)) == Seq("chunker01"))
      assert(runs.get == 3 && sched.pendingFollowUps.isEmpty)
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
      // a waited request that fails the same way leaves no latch behind
      assert(post(server.url("hook") + "?wait=true", """{"n":2}""").statusCode() == 500)
      assert(runner.responseLatchCount == 0)
    } finally server.stop()
  }

  test("a waited round trip through stream, 16-bucket upsert and respond runs at most 1 Spark job") {
    val dir = tmpDir("graph")
    write(dir, "graph.yml",
      """functions:
        |  - webhook: hook
        |  - node_file: responder.scala
        |    id: responder
        |    inputs: {hook: hook}
        |    outputs: {profiles: profiles}
        |stores:
        |  - table: profiles
        |""".stripMargin)
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("n", LongType), StructField("total", LongType)))
    // the repo benchmark's responder: stream the new `hook` rows by
    // request key, read the touched profiles, upsert (user_id, n, total)
    // into a 16-bucket keyed table, checkpoint, respond per request
    lazy val runner: GraphRunner = new GraphRunner(spark, GraphManifest.load(dir), tmpDir("wh"),
      codeNodes = Map("responder.scala" -> new CodeNode {
        def run(ctx: NodeContext): Unit = {
          val cur = ctx.stream("hook", Some("patterns_request_key"))
          val rows = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
          cur.consumeRows(r => rows += ((r.getAs[String]("patterns_request_key"),
            r.getAs[Long]("user_id"), r.getAs[Long]("value"))))
          val profiles = ctx.table("profiles")
          if (profiles.meta.uniqueOn.isEmpty)
            profiles.init(uniqueOn = Seq("user_id"), hashBuckets = Some(16))
          val users = rows.map(_._2).distinct.toSeq
          val before: Map[Long, (Long, Long)] =
            if (!profiles.exists) Map.empty
            else profiles.read.filter(col("user_id").isin(users: _*))
              .select("user_id", "n", "total").collect()
              .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
          val after = users.map { u =>
            val mine = rows.filter(_._2 == u)
            val (n, t) = before.getOrElse(u, (0L, 0L))
            u -> ((n + mine.size, t + mine.map(_._3).sum))
          }.toMap
          profiles.upsert(spark.createDataFrame(java.util.Arrays.asList(after.toSeq.sortBy(_._1)
            .map { case (u, (n, t)) => Row(u, n, t) }: _*), schema))
          profiles.flush()
          cur.checkpoint()
          rows.foreach { case (key, u, _) =>
            val (n, t) = after(u)
            runner.respondToRequest("hook", key, Map("user_id" -> u, "n" -> n, "total" -> t))
          }
        }
      }))
    val server = new WebhookServer(runner, port = 0, responseTimeoutMs = 30000)
    try {
      val url = server.url("hook") + "?wait=true"
      val warm = post(url, """{"user_id": 1, "value": 5}""")
      assert(warm.statusCode() == 200, warm.body())
      // user 1 updates a key the table holds; 2, 3 and 4 are new keys
      val bodies = Seq(1L -> 7L, 2L -> 3L, 1L -> 1L, 3L -> 2L, 4L -> 9L)
      val model = scala.collection.mutable.Map(1L -> ((1L, 5L)))
      val perPost = bodies.map { case (u, v) =>
        val reads = runner.responseReads.get()
        val decoded = graft.core.Catalog.decodedFiles.get()
        val (r, jobs) = JobCounter.jobs(spark)(
          post(url, s"""{"user_id": $u, "value": $v}"""))
        assert(r.statusCode() == 200, r.body())
        val (n, t) = model.getOrElse(u, (0L, 0L))
        model(u) = (n + 1, t + v)
        assert(r.body() == s"""{"user_id":$u,"n":${n + 1},"total":${t + v}}""")
        (jobs, runner.responseReads.get() - reads, graft.core.Catalog.decodedFiles.get() - decoded)
      }
      info(s"Spark jobs per POST: ${perPost.map(_._1).mkString(", ")}")
      assert(perPost.forall(_._1 <= 1),
        s"Spark jobs per POST: ${perPost.map(_._1).mkString(", ")} (at most 1)")
      assert(perPost.forall(_._2 == 0), "answered from the latch, no table read")
      // from the third request on: the new `hook` file and the bucket
      // file the previous upsert wrote; every other file is cached
      val decodes = perPost.map(_._3)
      info(s"files decoded per POST: ${decodes.mkString(", ")}")
      assert(decodes.tail.forall(_ <= 2), s"files decoded per POST: ${decodes.mkString(", ")} (at most 2)")
    } finally server.stop()
  }

  test("the waited body equals the committed row's table read, byte for byte, also when it widens") {
    val dir = tmpDir("graph")
    write(dir, "graph.yml",
      """functions:
        |  - webhook: hook
        |  - node_file: responder.scala
        |    id: respond02
        |    inputs: {hook: hook}
        |stores: []
        |""".stripMargin)
    val ts = java.sql.Timestamp.valueOf("2024-03-01 12:34:56.789")
    val payloads: Seq[Map[String, Any]] = Seq(
      Map("n" -> 7L, "x" -> 2.5, "s" -> "a \"quoted\" é\n", "ok" -> true,
        "none" -> null, "at" -> ts, "i" -> 3),
      Map("n" -> -1L, "x" -> 1e-7, "s" -> "", "ok" -> false, "none" -> "set", "at" -> ts),
      Map("n" -> 8L, "extra" -> "new field"), // widens: a new column
      Map("n" -> 2.5, "x" -> 4.0), // widens: n long -> double
      Map("n" -> 4.5, "x" -> 0.5, "s" -> "in place", "ok" -> true, "none" -> null,
        "at" -> ts, "i" -> 4, "extra" -> "e")) // every column, as recorded: lands in place
    val keys = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val respondJobs = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    lazy val runner: GraphRunner = new GraphRunner(spark, GraphManifest.load(dir), tmpDir("wh"),
      codeNodes = Map("responder.scala" -> new CodeNode {
        def run(ctx: NodeContext): Unit = {
          val cur = ctx.stream("hook", Some("patterns_request_key"))
          cur.records().foreach { rec =>
            val i = rec("i").asInstanceOf[Long]
            val key = rec("patterns_request_key").toString
            keys.put(i, key)
            respondJobs.put(i, JobCounter.jobs(spark)(
              runner.respondToRequest("hook", key, payloads(i.toInt)))._2)
          }
          cur.checkpoint()
        }
      }))
    val server = new WebhookServer(runner, port = 0, responseTimeoutMs = 30000)
    try {
      payloads.indices.foreach { i =>
        val reads = runner.responseReads.get()
        val r = post(server.url("hook") + "?wait=true", s"""{"i": $i}""")
        assert(r.statusCode() == 200, r.body())
        assert(runner.responseReads.get() == reads, "answered from the latch, no table read")
        // the up-front read renders the row on the driver, no job; the
        // Spark path's `read.drop(key).toJSON` gives the same bytes
        val (read, jobs) = JobCounter.jobs(spark)(runner.webhookResponse("hook", keys.get(i.toLong)))
        assert(jobs == 0 && Some(r.body()) == read, s"payload $i")
        assert(read == graft.Parity.sparkPath(
          runner.webhookResponse("hook", keys.get(i.toLong))), s"payload $i")
      }
      val resp = runner.tableHandle("hook_responses")
      assert(resp.schema("n").dataType == org.apache.spark.sql.types.DoubleType)
      assert(resp.schema.fieldNames.contains("extra"))
      // the table's first row and an in-place row are written on the
      // driver; only the widening rows rewrite the table with a job
      assert(Seq(0L, 4L).forall(i => respondJobs.containsKey(i) && respondJobs.get(i) == 0L),
        respondJobs.toString)
    } finally server.stop()
  }

  test("wait=true yields 504 at the timeout when no node responds") {
    val dir = tmpDir("graph")
    write(dir, "graph.yml",
      """functions:
        |  - webhook: hook
        |  - node_file: silent.scala
        |    id: silent01
        |    inputs: {hook: hook}
        |stores: []
        |""".stripMargin)
    val silent = new CodeNode {
      def run(ctx: NodeContext): Unit =
        ctx.stream("hook", Some("patterns_request_key")).records().foreach(_ => ())
    }
    val runner = new GraphRunner(spark, GraphManifest.load(dir), tmpDir("wh"),
      codeNodes = Map("silent.scala" -> silent))
    val server = new WebhookServer(runner, port = 0, responseTimeoutMs = 700)
    try {
      val t0 = System.nanoTime()
      val r = post(server.url("hook") + "?wait=true", """{"q": 1}""")
      assert(r.statusCode() == 504, r.body())
      assert(r.body().contains("no response for key"))
      assert((System.nanoTime() - t0) / 1e6 >= 700)
      assert(runner.responseReads.get() == 1)
    } finally server.stop()
  }

  test("ingest: a body that fits the recorded schema lands in place without inference; others widen as inferred") {
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    val dir = tmpDir("graph")
    write(dir, "graph.yml",
      """functions:
        |  - webhook: hook
        |stores: []
        |""".stripMargin)
    val runner = new GraphRunner(spark, GraphManifest.load(dir), tmpDir("wh"))
    // the model: every body through Spark's JSON inference, appended
    val model = new graft.core.TableHandle(spark, new graft.core.Catalog(tmpDir("model")), "hook")
    val hook = runner.tableHandle("hook")
    def rows(h: graft.core.TableHandle) =
      h.read.collect().map(r => r.getValuesMap[Any](r.schema.fieldNames.toSeq)).toSet
    def ingest(i: Int, body: String): Long = {
      val key = f"k$i%02d"
      model.append(spark.read.json(Seq(body).toDS()).withColumn("patterns_request_key", lit(key)))
      model.flush()
      JobCounter.jobs(spark)(runner.ingestWebhookJson("hook", Seq(body), key))._2
    }
    ingest(0, """{"a": 1, "k": 10, "b": "x", "c": 1.5, "d": true}""")
    Seq(
      """{"a": 2, "k": 20, "b": "y", "c": 2.5, "d": false}""" -> true, // fits
      """{"a": 3, "b": null}""" -> true, // missing fields: null
      """{"a": 4, "e": "new"}""" -> false, // a new field
      """{"a": "five"}""" -> false, // a string into a bigint field
      """{"k": 6.5}""" -> false // a double into a bigint field
    ).zipWithIndex.foreach { case ((body, inPlace), i) =>
      val (active, versions) = (hook.meta.activeVersion, hook.versions.size)
      val jobs = ingest(i + 1, body)
      assert(hook.schema.toDDL == model.schema.toDDL, body)
      assert(rows(hook) == rows(model), body)
      if (inPlace) {
        assert(hook.meta.activeVersion == active && hook.versions.size == versions,
          s"$body landed in place")
        assert(jobs == 0, s"$body: $jobs jobs, none expected: the batch is written on the driver")
      } else assert(hook.meta.activeVersion != active, s"$body widened into a new version")
    }
    assert(hook.schema("a").dataType == org.apache.spark.sql.types.StringType)
    assert(hook.schema("k").dataType == org.apache.spark.sql.types.DoubleType)
  }
}
