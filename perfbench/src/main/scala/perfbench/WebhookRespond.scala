package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.graph.{CodeNode, GraphManifest, GraphRunner, NodeContext, WebhookServer}

/** `webhook_respond`: one closed-loop client POSTs `?wait=true` events
  * to a webhook; a responder node streams the new rows, upserts a
  * per-user profile into a hash-bucketed keyed table, checkpoints its
  * cursor and answers each request through `respondToRequest`.
  *
  * Inputs: `requests.json`, a list of `{"user_id", "value"}` bodies;
  * body 0 is the set-up request, the rest are the measured ones.
  */
final class WebhookRespond(env: Env) extends Workload {
  import WebhookRespond._

  private val bodies: Seq[String] =
    org.json4s.jackson.JsonMethods.parse(Files.readString(Paths.get(env.inputs, "requests.json")))
      .children.map(j => org.json4s.jackson.JsonMethods.compact(j))
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  private var runner: GraphRunner = _
  private var server: WebhookServer = _
  private var warehouse: String = _
  private val responder = new Responder(env)

  private def post(body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(server.url("hook") + "?wait=true"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  /** A graph runner over a fresh warehouse, its server, and the
    * set-up request answered.
    */
  private def open(): Unit = {
    val dir = env.freshDir("webhook-graph")
    Files.writeString(Paths.get(dir, "graph.yml"), GraphYml)
    warehouse = env.freshDir("webhook-warehouse")
    runner = new GraphRunner(env.spark, GraphManifest.load(dir), warehouse,
      codeNodes = Map("responder.scala" -> responder))
    responder.runner = runner
    val errors = runner.validate()
    require(errors.isEmpty, errors.mkString("; "))
    server = new WebhookServer(runner, port = 0, responseTimeoutMs = 60000L)
    val r = post(bodies.head)
    require(r.statusCode() == 200, s"set-up request answered ${r.statusCode()}: ${r.body()}")
  }

  def session: SparkSession = env.spark

  def setup(tr: Tracer): Unit = { close(); open() }

  def measure(tr: Tracer, counters: Option[SparkCounters]): Pass = {
    val p = new Pass
    val oc = new OpCounters(env.spark, counters, env.cores)
    responder.tracer = tr
    responder.sliceRows.clear()
    val t0 = System.nanoTime()
    bodies.zipWithIndex.tail.foreach { case (body, i) =>
      tr.op = s"request-$i"
      val (r, ms) = oc.around(tr.span("graph.post")(Stats.timeS(post(body))))._1
      p.attempted += 1
      p.checks += Map("i" -> i, "status" -> r.statusCode(), "body" -> r.body())
      p.opsMs += ms * 1000
      if (r.statusCode() == 200) p.okMs += ms * 1000
      else {
        p.failed += 1
        env.log(s"request $i answered ${r.statusCode()}: ${r.body()}")
      }
    }
    p.passS = (System.nanoTime() - t0) / 1e9
    if (tr.enabled) {
      oc.report(p.layers)
      layerTimes(tr, p)
      catalogCounters(p)
    }
    responder.tracer = new Tracer(false)
    p
  }

  /** Splits each POST, failed ones included, at the responder's
    * node-body span: before it, ingest (HTTP receive, JSON inference,
    * append commit, signal dispatch); after it, the response read and
    * reply (or the error reply).
    */
  private def layerTimes(tr: Tracer, p: Pass): Unit = {
    val measured = (s: Span) => s.op.startsWith("request-")
    val posts = tr.named("graph.post")
    val node = tr.named("graph.node").groupBy(_.op)
    def per(f: (Span, Span) => Double): Seq[Double] = posts.flatMap { post =>
      node.get(post.op).flatMap(_.lastOption).map(n => f(post, n))
    }
    val ingest = per((post, n) => (n.startNs - post.startNs) / 1e6)
    val body = per((_, n) => n.ms)
    val read = per((post, n) => (post.endNs - n.endNs) / 1e6)
    p.layers("graph.ingest_ms") = Stats.median(ingest)
    p.layers("graph.node_body_ms") = Stats.median(body)
    // the responder's own code: its body minus the calls into core and graph
    p.layers("graph.node_self_ms") =
      Stats.median(tr.named("graph.node").filter(measured).map(tr.selfMs))
    p.layers("graph.response_read_ms") = Stats.median(read)
    Seq("core.stream.slice" -> "core.stream.slice_ms",
        "core.table.read" -> "core.table.read_ms",
        "core.table.upsert_flush" -> "core.table.upsert_flush_ms",
        "core.stream.checkpoint" -> "core.stream.checkpoint_ms",
        "graph.respond" -> "graph.respond_ms").foreach { case (span, metric) =>
      p.layers(metric) = Stats.median(tr.named(span).filter(measured).map(_.ms))
    }
    p.layers("core.stream.slice_rows") = Stats.median(responder.sliceRows.map(_.toDouble).toSeq)
  }

  private def catalogCounters(p: Pass): Unit = {
    val s = Warehouse.tableStats(warehouse, "profiles")
    p.layers("core.catalog.active_files") = s.activeFiles
    p.layers("core.catalog.versions") = s.versions
    p.layers("core.catalog.meta_bytes") =
      Seq("hook", "profiles", "hook_responses").map(Warehouse.tableStats(warehouse, _).metaBytes).sum
    p.layers("disk_bytes_per_row") =
      Warehouse.uniqueBytes(warehouse).toDouble / math.max(1L, Warehouse.liveRows(warehouse))
  }

  override def close(): Unit = if (server != null) { server.stop(); server = null }
}

object WebhookRespond {
  val Buckets = 16

  val GraphYml: String =
    """functions:
      |  - webhook: hook
      |  - node_file: responder.scala
      |    id: responder
      |    inputs: {hook: hook}
      |    outputs: {profiles: profiles}
      |stores:
      |  - table: profiles
      |""".stripMargin

  private val ProfileSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("n", LongType), StructField("total", LongType)))

  /** The benchmark-owned responder. Exceptions are logged with their
    * stack and rethrown, so the server answers 500 and the run log
    * keeps the cause.
    */
  final class Responder(env: Env) extends CodeNode {
    var runner: GraphRunner = _
    var tracer: Tracer = new Tracer(false)
    val sliceRows = scala.collection.mutable.ArrayBuffer.empty[Long]

    def run(ctx: NodeContext): Unit = tracer.span("graph.node") {
      try respond(ctx)
      catch {
        case e: Throwable =>
          val sw = new java.io.StringWriter
          e.printStackTrace(new java.io.PrintWriter(sw))
          env.log(s"responder ${ctx.nodeId} failed: $sw")
          throw e
      }
    }

    private def respond(ctx: NodeContext): Unit = {
      val cur = ctx.stream("hook", Some("patterns_request_key"))
      val rows = tracer.span("core.stream.slice") {
        val b = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
        cur.consumeRows(r => b += ((r.getAs[String]("patterns_request_key"),
          r.getAs[Long]("user_id"), r.getAs[Long]("value"))))
        b.toList
      }
      sliceRows += rows.size
      val profiles = ctx.table("profiles")
      if (profiles.meta.uniqueOn.isEmpty)
        profiles.init(uniqueOn = Seq("user_id"), hashBuckets = Some(Buckets))
      val users = rows.map(_._2).distinct
      val before: Map[Long, (Long, Long)] = tracer.span("core.table.read") {
        if (!profiles.exists) Map.empty
        else profiles.read.filter(col("user_id").isin(users: _*))
          .select("user_id", "n", "total").collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      }
      val after = users.map { u =>
        val mine = rows.filter(_._2 == u)
        val (n, t) = before.getOrElse(u, (0L, 0L))
        u -> ((n + mine.size, t + mine.map(_._3).sum))
      }.toMap
      tracer.span("core.table.upsert_flush") {
        val df = env.spark.createDataFrame(java.util.Arrays.asList(
          after.toSeq.sortBy(_._1).map { case (u, (n, t)) => Row(u, n, t) }: _*), ProfileSchema)
        profiles.upsert(df)
        profiles.flush()
      }
      tracer.span("core.stream.checkpoint")(cur.checkpoint())
      rows.foreach { case (key, u, _) =>
        val (n, t) = after(u)
        tracer.span("graph.respond") {
          runner.respondToRequest("hook", key, Map("user_id" -> u, "n" -> n, "total" -> t))
        }
      }
    }
  }
}
