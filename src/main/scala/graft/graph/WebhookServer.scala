package graft.graph

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods.{compact, render}

/** Loopback HTTP edge for webhook nodes — the smallest honest version
  * of the platform's per-webhook URL (the reference serves
  * `POST .../webhooks/<name>`; see patterns/cli/services/api.py:186-188
  * and node.py:544-553 for the request-key / respond contract).
  *
  * `POST /webhooks/<name>` with a JSON object body:
  *  - appends the parsed body (plus a generated `patterns_request_key`
  *    column) to the webhook's same-name table,
  *  - runs one [[GraphRunner.drain]] inline (the platform runs consumers
  *    asynchronously; a loopback edge can afford not to),
  *  - with `?wait=true`, returns the payload of the row carrying this
  *    request's key in `<name>_responses` as the HTTP response body:
  *    the body `GraphRunner.respondToRequest` hands to the request's
  *    latch, or, for a node that writes that table itself, one read of
  *    it; otherwise responds 202 with the request key.
  *
  * Pure JDK (`com.sun.net.httpserver`) — no added dependencies; binds
  * 127.0.0.1 only. A body that fits the webhook table's recorded schema
  * is parsed on the driver into a row of that schema and appended
  * without a Spark job; any other is parsed by Spark's JSON reader with
  * the inference rules of file ingest (`GraphRunner.ingestWebhookJson`).
  *
  * Replies are not held back by Nagle's algorithm: the server sets
  * TCP_NODELAY on its connections ([[WebhookServer.loopback]]), or a
  * keep-alive client waits out its delayed ACK, about 40 ms, on every
  * round trip.
  */
final class WebhookServer(runner: GraphRunner, port: Int = 0,
    responseTimeoutMs: Long = 10000L) {

  private val server = WebhookServer.loopback(port)

  server.createContext("/webhooks/", new HttpHandler {
    override def handle(ex: HttpExchange): Unit =
      try route(ex)
      catch {
        case e: Throwable =>
          // json4s renders any message (newlines included) as valid JSON
          respond(ex, 500, compact(render(
            JObject("error" -> JString(Option(e.getMessage).getOrElse(""))))))
      } finally ex.close()
  })
  // Small pool, not serial dispatch: a `?wait=true` client waiting for
  // its response must not block other posts (including the one whose
  // downstream run produces that response). Concurrent ingests to one
  // table are safe: batch sequences and meta updates serialize behind
  // the catalog's per-table lock.
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
  server.setExecutor(pool)
  server.start()

  /** Bound port (pass port=0 to let the OS pick a free one). */
  def boundPort: Int = server.getAddress.getPort
  def url(name: String): String = s"http://127.0.0.1:$boundPort/webhooks/$name"

  def stop(): Unit = { server.stop(0); pool.shutdown() }

  private def route(ex: HttpExchange): Unit = {
    val name = ex.getRequestURI.getPath.stripPrefix("/webhooks/").takeWhile(_ != '/')
    if (ex.getRequestMethod != "POST" || name.isEmpty) {
      respond(ex, 405, """{"error":"use POST /webhooks/<name>"}"""); return
    }
    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8).trim
    if (body.isEmpty || body.head != '{') {
      respond(ex, 400, """{"error":"body must be a JSON object"}"""); return
    }
    val wait = Option(ex.getRequestURI.getQuery).exists(_.split('&').contains("wait=true"))
    val key = runner.ingestRequest(name, body, waited = wait)
    // the latch goes however the request ends, a failed drain included
    try {
      runner.drain(java.time.LocalDateTime.now())
      if (!wait) {
        respond(ex, 202, s"""{"patterns_request_key":"$key"}"""); return
      }
      // at most 1 table read per waited request, never a 50 ms Spark-job
      // poll loop: a responder that ran in the drain has already completed
      // the latch with the body; otherwise one up-front read covers a node
      // that wrote `<name>_responses` itself, then the latch is awaited
      val l = runner.responseLatch(key)
      Option(l.getNow(null))
        .orElse(runner.webhookResponse(name, key))
        .orElse(
          try Some(l.get(responseTimeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS))
          catch { case _: java.util.concurrent.TimeoutException => None }) match {
        case Some(json) => respond(ex, 200, json)
        case None => respond(ex, 504,
          s"""{"error":"no response for key","patterns_request_key":"$key"}""")
      }
    } finally runner.dropResponseLatch(key)
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
  }
}

object WebhookServer {
  private val NoDelay = "sun.net.httpserver.nodelay"

  /** A JDK HTTP server on 127.0.0.1:`port` whose connections set
    * TCP_NODELAY, unless `sun.net.httpserver.nodelay` is already set.
    * The JDK writes a reply's headers and body as two segments; with
    * Nagle's algorithm on, the body waits for the client's delayed ACK.
    * It reads the property once, when the JVM creates its first server,
    * so every server here is created through this.
    */
  private[graph] def loopback(port: Int): HttpServer = {
    if (System.getProperty(NoDelay) == null) System.setProperty(NoDelay, "true")
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  }
}
