package graft.graph

import java.nio.file.Files
import java.time.LocalDateTime
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, LongType, StringType, StructType}
import org.json4s.jackson.JsonMethods
import graft.core.{Catalog, State, StreamCursor, TableHandle, Template}

/** One node run, code or SQL (the Scala equivalent of the reference's
  * python node — patterns/node/node.py passim). It holds what the run
  * touches: one table handle per store, the stream cursors the node
  * opened and a [[State]] built when the run starts. `commit`,
  * called when the body returns, flushes the handles, persists each
  * cursor that moved (node.py:18-81) and hands back the run's
  * `requestNewRun`; a body that throws commits none of these.
  */
final class NodeContext private[graph] (
    val spark: SparkSession,
    val nodeId: String,
    runner: GraphRunner,
    node: FunctionNode) {

  private val handles = mutable.LinkedHashMap.empty[String, TableHandle]
  private val cursors = mutable.ArrayBuffer.empty[StreamCursor]

  /** This run's State (node.py:417-505). */
  val state: State = new State(runner.catalog.root, nodeId)

  /** Resolve a port name (preferred) or a store name to a Table. */
  def table(port: String): TableHandle =
    handle(node.inputs.get(port).orElse(node.outputs.get(port)).getOrElse(port))

  private[graph] def handle(store: String): TableHandle =
    handles.synchronized(handles.getOrElseUpdate(store, runner.tableHandle(store)))

  def stream(port: String, orderBy: Option[String] = None): StreamCursor = {
    val cursor = StreamCursor.forTable(table(port), state, orderBy)
    cursors.synchronized(cursors += cursor)
    cursor
  }

  /** Flush pending writes (node.py:407-414), then cursor positions. */
  private[graph] def commit(): Option[(Boolean, Long)] = {
    handles.synchronized(handles.values.toList).foreach(_.flush())
    cursors.synchronized(cursors.toList).foreach(_.persistMoved())
    state.pendingNewRun
  }

  /** Bound value, else the declared ParamSpec default (MISSING never
    * leaks here — compile rejected the graph if a required parameter
    * was unbound).
    */
  def parameter[T](name: String): T =
    node.parameters.get(name)
      .orElse(runner.paramSpecsFor(node).find(_.name == name)
        .map(_.default).filter(_ != ParamSpec.Missing))
      .getOrElse(throw new IllegalArgumentException(
        s"parameter '$name' not bound"))
      .asInstanceOf[T]

  def parameterOr[T](name: String, default: T): T =
    node.parameters.get(name).map(_.asInstanceOf[T]).getOrElse(default)

  /** Credentials bundle for a connection-typed parameter
    * (node.py:508-510): the binding names the bundle; an unbound name
    * falls back to the parameter name itself. Compile already verified
    * the bundle is registered.
    */
  def connection(name: String): Map[String, String] = {
    val ref = node.parameters.get(name).map(String.valueOf).getOrElse(name)
    runner.connectionFor(ref).getOrElse(throw new IllegalArgumentException(
      s"connection '$ref' is not bound"))
  }
}

/** A registered Scala node implementation. `params` declares the typed
  * parameter surface (node.py:513-542) — validated against the
  * manifest's bindings at graph compile time.
  */
trait CodeNode {
  def run(ctx: NodeContext): Unit
  def params: Seq[ParamSpec] = Nil
}

/** Graph compiler + DAG runner (SURVEY.md §2.4, §3.1).
  *
  * Compile-time validation mirrors the platform's upload errors
  * (/root/reference/patterns/cli/commands/upload.py:76-85): unconnected
  * inputs, unbound parameters, unknown stores, cycles. Execution is
  * topological; store writes emit create/update/reset signals
  * (node.py:387-397, 483-499) that stamp the store on one change clock,
  * and a node is stale, and runs in the next wave, when an input store
  * changed after the node last started. Each run goes through one
  * [[NodeContext]] and keeps the follow-up it requests until a
  * [[drain]] runs it.
  */
final class GraphRunner(
    val spark: SparkSession,
    val manifest: GraphManifest,
    warehouse: String,
    codeNodes: Map[String, CodeNode] = Map.empty,
    componentResolver: String => Option[GraphManifest] = _ => None,
    connections: Map[String, Map[String, String]] = Map.empty) {

  private[graph] def paramSpecsFor(f: FunctionNode): Seq[ParamSpec] =
    f.nodeFile.flatMap(codeNodes.get).map(_.params).getOrElse(Nil)

  private[graph] def connectionFor(name: String): Option[Map[String, String]] =
    connections.get(name)

  val catalog = new Catalog(warehouse)
  private val RequestKey = "patterns_request_key"
  // serializes ingest with drains (see appendLocked and drain)
  private val ingestLock = new Object

  // The one change clock. It ticks once per node run start and once per
  // store change signal. A node is stale when an input store changed
  // after `seenAt` (the tick at which the node last started, or last had
  // its inputs muted): a change made while a node of the same wave runs
  // is stamped after that node's start, whichever thread started first.
  private var clock: Int = 0
  private val changedAt = mutable.Map.empty[String, Int]
  private val seenAt = mutable.Map.empty[String, Int]
  // Requested follow-up runs by node id: not-before time, triggerDownstream.
  private val followUps = mutable.Map.empty[String, (LocalDateTime, Boolean)]

  /** Follow-up runs requested and not yet started, with their not-before times. */
  def pendingFollowUps: Map[String, LocalDateTime] =
    this.synchronized(followUps.view.mapValues(_._1).toMap)

  def tableHandle(store: String): TableHandle =
    new TableHandle(spark, catalog, store, "rw", onSignal = (t, _) => this.synchronized {
      clock += 1
      changedAt(t) = clock
    })

  /** Expanded nodes ([[GraphManifest.flatNodes]]). */
  lazy val flatNodes: List[(String, FunctionNode, GraphManifest)] =
    manifest.flatNodes(componentResolver)

  // The dependency graph, built once: store → producing node ids (declared
  // outputs and webhook auto-stores), and node id → ids of the producers
  // of its inputs (a node reading its own output depends on itself, which
  // validate reports as a cycle).
  private lazy val producers: Map[String, List[String]] =
    flatNodes.flatMap { case (id, f, _) =>
      f.outputs.values.map(_ -> id) ++ f.webhook.map(_ -> id)
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
  private lazy val deps: Map[String, Set[String]] =
    flatNodes.map { case (id, f, _) =>
      id -> f.inputs.values.flatMap(producers.getOrElse(_, Nil)).toSet
    }.toMap
  private lazy val byId: Map[String, (FunctionNode, GraphManifest)] =
    flatNodes.distinctBy(_._1).map { case (id, f, m) => id -> (f, m) }.toMap

  /** Compile-time checks; returns human-readable errors (empty = ok). */
  def validate(): Seq[String] = {
    val errors = mutable.ArrayBuffer.empty[String]
    // duplicate identity fields within one manifest — the reference's
    // config editor rejects these at edit time (edit.py:86-94)
    flatNodes.map(_._3).distinct.foreach { m =>
      Seq[(String, FunctionNode => Option[String])](
        ("node_file", _.nodeFile), ("id", _.id), ("webhook", _.webhook)
      ).foreach { case (k, get) =>
        m.functions.flatMap(get).groupBy(identity)
          .collect { case (v, vs) if vs.size > 1 => v }.toSeq.sorted
          .foreach(v =>
            errors += s"$k '$v' already defined in the graph configuration")
      }
    }
    // expanded ids must be unambiguous (runNode/topoOrder address by id)
    flatNodes.map(_._1).groupBy(identity)
      .collect { case (id, xs) if xs.size > 1 => id }.toSeq.sorted
      .foreach(id => errors += s"node id '$id' is ambiguous after expansion")
    // stores in scope: the root manifest's, every expanded subgraph /
    // component's OWN declarations (a component's internal stores are
    // part of its packaged graph.yml, not re-declared by the host), and
    // webhook auto-stores
    val storeNames = (manifest :: flatNodes.map(_._3)).distinct
      .flatMap(_.stores.map(_.name)).toSet ++
      flatNodes.flatMap { case (_, f, _) => f.webhook }
    flatNodes.foreach { case (id, f, _) =>
      if (f.kind == "invalid")
        errors += s"node $id: no node_file/webhook/uses"
      f.trigger.foreach { t =>
        try Cron(t)
        catch { case e: IllegalArgumentException =>
          errors += s"node $id: invalid trigger '$t': ${e.getMessage}" }
      }
      if (f.kind == "component" && componentResolver(f.uses.getOrElse("")).isEmpty)
        errors += s"node $id: component '${f.uses.getOrElse("")}' not found"
      f.inputs.foreach { case (port, store) =>
        if (!storeNames.contains(store))
          errors += s"node $id: input '$port' references unknown store '$store'"
      }
      f.outputs.foreach { case (port, store) =>
        if (!storeNames.contains(store))
          errors += s"node $id: output '$port' references unknown store '$store'"
      }
      f.parameters.foreach { case (k, v) =>
        if (v == null || v == "MISSING")
          errors += s"node $id: Parameter $k has no default or value"
      }
      if (f.kind == "code" && !codeNodes.contains(f.nodeFile.getOrElse("")))
        errors += s"node $id: no Scala implementation registered for '${f.nodeFile.getOrElse("")}'"
      // typed-parameter validation against the node's declared ParamSpecs
      // (node.py:513-542; the platform front-loads these as upload
      // compile errors, upload.py:76-85)
      paramSpecsFor(f).foreach { spec =>
        if (!ParamSpec.allowedTypes(spec.dtype))
          errors += s"node $id: parameter '${spec.name}' has unknown type '${spec.dtype}'"
        else f.parameters.get(spec.name)
          .filter(v => v != null && v != ParamSpec.Missing) match {
          case None =>
            if (spec.dtype == "connection") {
              // an unbound connection may resolve by its own name
              if (!connections.contains(spec.name))
                errors += s"node $id: connection '${spec.name}' is not bound"
            } else if (spec.default == ParamSpec.Missing &&
                !f.parameters.contains(spec.name)) // bound-MISSING already flagged above
              errors += s"node $id: Parameter ${spec.name} has no default or value"
          case Some(v) =>
            ParamSpec.typeError(spec, v).foreach(e => errors += s"node $id: $e")
            if (spec.dtype == "connection" && v.isInstanceOf[String] &&
                !connections.contains(String.valueOf(v)))
              errors += s"node $id: connection '${String.valueOf(v)}' is not bound"
        }
      }
    }
    // one producer per store: two writers were silent last-wins under
    // serial execution, but waves run independent nodes concurrently —
    // make the ambiguity a compile error like the platform does
    producers.foreach { case (store, ids) =>
      if (ids.size > 1)
        errors += s"store '$store' has multiple producers: ${ids.sorted.mkString(", ")}"
    }
    // cycle check over store-mediated edges
    val visiting = mutable.Set.empty[String]
    val done = mutable.Set.empty[String]
    def dfs(n: String): Boolean = { // true = cycle
      if (done(n)) false
      else if (visiting(n)) true
      else {
        visiting += n
        val cyc = deps.getOrElse(n, Set.empty).exists(dfs)
        visiting -= n; done += n
        cyc
      }
    }
    if (deps.keys.exists(dfs)) errors += "graph contains a cycle"
    errors.toSeq
  }

  /** Topological order over store-mediated dependencies. */
  lazy val topoOrder: List[String] = {
    val order = mutable.ArrayBuffer.empty[String]
    val seen = mutable.Set.empty[String]
    def visit(n: String): Unit =
      if (!seen(n)) { seen += n; deps.getOrElse(n, Set.empty).foreach(visit); order += n }
    flatNodes.foreach { case (id, _, _) => visit(id) }
    order.toList
  }

  /** Topological order sliced into dependency levels: every node's
    * producers sit in strictly earlier waves, so the nodes of one wave
    * are mutually independent and can execute concurrently (G10 —
    * wide graphs at scale: independent branches submit their Spark jobs
    * together and the scheduler interleaves their stages across the
    * cluster instead of serializing whole branches).
    */
  private[graph] lazy val waveOrder: List[List[String]] = {
    val level = mutable.Map.empty[String, Int]
    def levelOf(n: String): Int = level.get(n) match {
      case Some(l) => l
      case None =>
        val ds = deps.getOrElse(n, Set.empty) - n
        val l = if (ds.isEmpty) 0 else ds.map(levelOf).max + 1
        level(n) = l
        l
    }
    flatNodes.map(_._1).groupBy(levelOf).toList.sortBy(_._1).map(_._2)
  }

  /** One wave: a single node runs inline; independent siblings submit
    * concurrently (Spark sessions are thread-safe; concurrent actions
    * from one session fan out across the scheduler). Failures rethrow
    * the original cause after the wave's threads wind down.
    */
  private def runWave(ids: List[String], now: LocalDateTime): Unit = ids match {
    case single :: Nil => runNode(single, now)
    case many =>
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(many.size, 8))
      try {
        val futs = many.map(id => pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = runNode(id, now)
        }))
        futs.foreach { fut =>
          try fut.get()
          catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
        }
      } finally pool.shutdown()
  }

  private def nodeById(id: String): (FunctionNode, GraphManifest) =
    byId.getOrElse(id, throw new IllegalArgumentException(s"unknown node '$id'"))

  /** Run one node now (manual trigger — services/trigger.py:10-22). */
  def runNode(id: String): Unit = runNode(id, LocalDateTime.now())

  /** Run one node and keep the follow-up it requests (node.py:483-499),
    * due its wait after `now`; a later request replaces an earlier one.
    * With `triggerDownstream = false` (a follow-up requested so) the
    * run's changes count as seen: every node that was not stale when
    * the run started has its inputs muted.
    */
  private def runNode(id: String, now: LocalDateTime, triggerDownstream: Boolean = true): Unit = {
    val started = this.synchronized { clock += 1; seenAt(id) = clock; clock }
    val (f, m) = nodeById(id)
    val request = f.kind match {
      case "webhook" => None // passive ingest endpoint; nothing to execute
      case "sql" | "code" =>
        val ctx = new NodeContext(spark, id, this, f)
        if (f.kind == "sql") runSqlNode(ctx, f, m)
        else codeNodes(f.nodeFile.get).run(ctx)
        ctx.commit()
      case other =>
        throw new IllegalStateException(s"node $id of kind '$other' not runnable")
    }
    this.synchronized {
      if (!triggerDownstream)
        topoOrder.filterNot(staleThrough(_, started)).foreach(seenAt(_) = clock)
      request.foreach { case (downstream, waitSecs) =>
        followUps(id) = (now.plusSeconds(waitSecs), downstream) }
    }
  }

  /** SQL node: substitute {{ table }} → temp view, {{ param }} → literal,
    * run, write result as a new version of the output store
    * (SURVEY.md §3.2).
    */
  private def runSqlNode(ctx: NodeContext, f: FunctionNode, m: GraphManifest): Unit = {
    val sqlText = Files.readString(m.dir.resolve(f.nodeFile.get))
    val tableMap = f.inputs.map { case (port, store) =>
      val view = s"graft_${ctx.nodeId.replaceAll("[^A-Za-z0-9_]", "_")}_$port"
      ctx.handle(store).read.createOrReplaceTempView(view)
      Seq(port -> view, store -> view)
    }.flatten.toMap
    val result = spark.sql(Template.substitute(sqlText, tableMap, f.parameters))
    val out = f.outputs.values.headOption.getOrElse(
      throw new IllegalArgumentException(s"sql node ${ctx.nodeId} has no output store"))
    ctx.handle(out).replace(result)
  }

  /** Run the whole graph once: dependency waves in order (independent
    * nodes within a wave execute concurrently), then a [[drain]], whose
    * stale rounds re-run a consumer of an out-of-band write (a store a
    * code node writes but does not declare, so waves cannot order it).
    */
  def run(): Unit = {
    val errors = validate()
    require(errors.isEmpty, s"graph compile errors:\n${errors.mkString("\n")}")
    val now = LocalDateTime.now()
    waveOrder.foreach(runWave(_, now))
    drain(now)
  }

  /** The one run loop; returns the ids that ran: the cron-`due` nodes,
    * the follow-ups due at `now`, then up to three rounds of stale nodes,
    * each in topological order. A follow-up leaves the queue when its run
    * starts, muted if so requested unless its node is also cron-due.
    * Under the ingest lock, so no two runs of one node read the same
    * stream slice; it is reentrant, so a node body may ingest.
    */
  def drain(now: LocalDateTime, due: Seq[String] = Nil): Seq[String] =
    ingestLock.synchronized {
      def dueFollowUp(id: String) =
        this.synchronized(followUps.get(id).filterNot(_._1.isAfter(now)))
      val queued = (due ++ topoOrder.filter(dueFollowUp(_).isDefined)).distinct
      queued.foreach { id =>
        val followUp = this.synchronized(dueFollowUp(id).flatMap(_ => followUps.remove(id)))
        runNode(id, now, triggerDownstream = due.contains(id) || followUp.forall(_._2))
      }
      // lazy: each round reads staleness after the one before has run
      val rounds = Iterator.continually(staleNodes()).take(3).takeWhile(_.nonEmpty)
      queued ++ rounds.flatMap { stale => stale.foreach(runNode(_, now)); stale }.toList
    }

  /** The one staleness rule: an input store of `id` last changed after
    * the node's `seenAt` tick and no later than tick `through`. */
  private def staleThrough(id: String, through: Int): Boolean = this.synchronized {
    val (f, _) = nodeById(id)
    val seen = seenAt.getOrElse(id, 0)
    f.kind != "webhook" && f.inputs.values.exists { store =>
      val c = changedAt.getOrElse(store, 0)
      c > seen && c <= through
    }
  }

  /** Stale nodes now, in topological order. */
  private def staleNodes(): List[String] = this.synchronized {
    topoOrder.filter(staleThrough(_, clock))
  }

  /** Webhook ingest: append JSON-lines micro-batch to the webhook's
    * auto-created same-name table (create.py:177-197; node.py:544-553).
    */
  def ingestWebhook(name: String, jsonLinesPath: String): Unit =
    appendLocked(name, inferring.json(jsonLinesPath))

  /** Spark's JSON inference for bodies of unknown shape. A field that is
    * null in every body is left out instead of typed as string, so it
    * cannot widen a recorded column; the append fills a recorded one with
    * nulls.
    */
  private def inferring = spark.read.option("dropFieldIfAllNull", "true")

  /** Webhook ingest from in-memory JSON bodies (the HTTP edge's path),
    * stamped with the request key the respond contract is keyed on
    * (node.py:544-553). Bodies that fit the table's recorded schema
    * become a batch on the driver ([[bodyBatch]]), and the append lands
    * in place as one driver-written file: no Spark job at all. Anything
    * else goes through Spark's JSON inference, as file ingest does, and
    * a new field or type takes the widen path.
    */
  def ingestWebhookJson(name: String, jsonBodies: Seq[String],
      requestKey: String): Unit =
    ingest(name, jsonBodies, () => requestKey)

  /** One HTTP request's body under a fresh key, returned. Keys are minted
    * under the ingest lock, so they commit in order and a responder that
    * streams by request key passes none over. The runner's first key for
    * a webhook follows the highest one its table already holds, so a
    * runner opened over an existing warehouse mints keys above the
    * offsets its responders persisted. A waited request's latch is
    * registered before the append, and dropped if the append throws.
    */
  private[graph] def ingestRequest(name: String, body: String, waited: Boolean): String =
    ingest(name, Seq(body), () => {
      if (!keyed(name)) {
        requests.accumulateAndGet(lastRequest(name), math.max(_, _))
        keyed += name
      }
      val key = f"req-${requests.incrementAndGet()}%08d"
      if (waited) responseLatch(key)
      key })
  private val requests = new java.util.concurrent.atomic.AtomicLong(0L)
  // the webhooks this runner has minted a key for (under the ingest lock)
  private val keyed = mutable.Set.empty[String]
  private val MintedKey = "req-([0-9]{1,18})".r

  /** The highest number of a minted key in webhook `name`'s table; 0
    * when it holds none. */
  private def lastRequest(name: String): Long = {
    val h = tableHandle(name)
    if (!h.exists || !h.schema.fieldNames.contains(RequestKey)) 0L
    else Catalog.drain(h.read.select(RequestKey)).flatMap(r => Option(r.getString(0)))
      .collect { case MintedKey(n) => n.toLong }.foldLeft(0L)(math.max)
  }

  private def ingest(name: String, jsonBodies: Seq[String], mintKey: () => String): String = {
    import spark.implicits._
    val batch = bodyBatch(name, jsonBodies).getOrElse(inferring.json(jsonBodies.toDS()))
    ingestLock.synchronized {
      val key = mintKey()
      try appendLocked(name, batch.withColumn(RequestKey, org.apache.spark.sql.functions.lit(key)))
      catch { case e: Throwable => dropResponseLatch(key); throw e }
      key
    }
  }

  /** The bodies as a local relation typed by the webhook table's
    * recorded schema less the request key and the auto-filled columns,
    * if every body is a JSON object whose fields are all in it, each
    * value null or the scalar that inference would type as that field's
    * type; None otherwise (or before the first ingest). Each row holds
    * the values json4s parsed, which are the ones Spark's own JSON
    * reader gives such a body under that schema.
    */
  private def bodyBatch(name: String, bodies: Seq[String]): Option[DataFrame] = {
    import org.json4s._
    val h = tableHandle(name)
    if (!h.exists) return None
    val m = h.meta
    val auto = Set(RequestKey, TableHandle.BucketCol) ++ m.addCreated ++ m.addMonotonicId
    val s = StructType(h.schema.filterNot(f => auto(f.name)))
    def value(t: DataType, v: JValue): Option[Any] = (t, v) match {
      case (_, JNull) => Some(null)
      case (LongType, JInt(i)) if i.isValidLong => Some(i.toLong)
      case (DoubleType, JDouble(d)) => Some(d)
      case (StringType, JString(x)) => Some(x)
      case (BooleanType, JBool(b)) => Some(b)
      case _ => None
    }
    def row(body: String): Option[Row] = scala.util.Try(JsonMethods.parse(body)).toOption match {
      case Some(JObject(fs)) if fs.map(_._1).distinct.size == fs.size =>
        val typed = fs.flatMap { case (k, v) =>
          s.find(_.name == k).flatMap(f => value(f.dataType, v)).map(k -> _) }.toMap
        if (typed.size < fs.size) None
        else Some(Row.fromSeq(s.fieldNames.toSeq.map(typed.getOrElse(_, null))))
      case _ => None
    }
    val rows = bodies.map(row)
    if (rows.forall(_.isDefined))
      Some(spark.createDataFrame(java.util.Arrays.asList(rows.flatten: _*), s))
    else None
  }

  /** The one ingest append. Serialized with other ingests and with
    * drains: concurrent FIRST writes would race version creation
    * (two newVersion/setActive pairs, last one wins and the other's rows
    * land in a non-active version). JSON parsing happens before the lock
    * and response waits stay concurrent — that is what the server pool
    * buys.
    */
  private def appendLocked(name: String, df: DataFrame): Unit =
    ingestLock.synchronized {
      val h = tableHandle(name)
      h.append(df)
      h.flush()
    }

  /** Response row for a request key, as a JSON object with the key
    * column stripped (the HTTP edge returns the node's payload, not the
    * plumbing). None until `respondToRequest` has written it. A
    * responses table within `Catalog.scan`'s size rule is read on the
    * driver and its hit rendered there by the generator `toJSON` uses:
    * no Spark job. A larger one is filtered and rendered by one.
    */
  def webhookResponse(webhookName: String, requestKey: String): Option[String] = {
    responseReads.incrementAndGet()
    val h = tableHandle(s"${webhookName}_responses")
    if (!h.exists) return None
    val hits = h.read
      .filter(org.apache.spark.sql.functions.col(RequestKey) === requestKey)
      .drop(RequestKey)
    graft.core.Catalog.local(hits) match {
      case Some(rel) => rel.data.headOption.map(graft.core.TableHandle.json(spark, hits.schema, _))
      case None => hits.toJSON.take(1).headOption
    }
  }

  // In-memory wake-up latches for `?wait=true` HTTP requests, keyed by
  // request key. The waiter's ingest registers the latch (before the
  // append, so a responder can never complete-before-register), and
  // respondToRequest completes it with the response body if one is
  // present — a waiting edge then answers from the latch, with no table
  // read, instead of launching a parquet-scan Spark job every 50 ms for
  // up to the whole timeout (≈200 jobs per waiting request). The
  // `<name>_responses` table stays the durable record.
  private val responseLatches = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CompletableFuture[String]]()
  /** Table-read counter for the response path (spec: ≤1 per waited request). */
  private[graph] val responseReads = new java.util.concurrent.atomic.AtomicLong(0L)

  private[graph] def responseLatch(
      requestKey: String): java.util.concurrent.CompletableFuture[String] =
    responseLatches.computeIfAbsent(requestKey,
      _ => new java.util.concurrent.CompletableFuture[String]())

  private[graph] def dropResponseLatch(requestKey: String): Unit =
    responseLatches.remove(requestKey)

  /** Latches registered and not yet dropped (spec: 0 once every request is answered). */
  private[graph] def responseLatchCount: Int = responseLatches.size

  /** respond_to_request (node.py:544-553): reply to a webhook request by
    * writing the payload row keyed by `patterns_request_key` into the
    * hook's `<name>_responses` table; the platform edge delivers it to
    * the waiting HTTP request, whose latch carries the body
    * `webhookResponse` would read back (rendered on the driver from the
    * row as committed). A row that fits the table's columns is written
    * on the driver, so the respond starts no Spark job; a new field or
    * type rewrites the table into a widened version with one.
    */
  def respondToRequest(webhookName: String, requestKey: String,
      payload: Map[String, Any]): Unit = {
    val h = tableHandle(s"${webhookName}_responses")
    val record = payload + (RequestKey -> requestKey)
    h.appendRecords(Seq(record))
    h.flush()
    // wake a waiting edge AFTER the durable write; only waiters create
    // latches, so completing an absent key is a no-op, not a leak
    Option(responseLatches.get(requestKey)).foreach(_.complete(h.recordJson(record, RequestKey)))
  }
}
