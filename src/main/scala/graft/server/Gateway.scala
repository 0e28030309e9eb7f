package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.state.QueryTranslator
import graft.streaming.{ChannelRuntime, JsonCodec}

/** REST query surface over a running [[ChannelRuntime]] — the
  * reference's FastAPI routes re-expressed on the JDK http server
  * (zero-dependency; SURVEY.md §3.1/§3.3 response semantics):
  *
  *   GET  /api/v1/last/{channel}            → [row] | []
  *   GET  /api/v1/next/{channel}            → [row] (blocks for next tick)
  *   GET  /api/v1/state/{channel}?query=…   → [rows] (filters + NULLS FIRST order)
  *   POST /api/v1/send/{channel}            → echo of validated rows
  *   GET  /api/v1/lookup/{channel}/{id}     → row | 404
  *
  * Status mapping mirrors the reference routes: unknown channel → 404,
  * validation failure on send → 422, state-query execution errors are
  * swallowed to `[]` (reference state.py:614-622). Optional per-identity
  * row filtering (X13, auth_filter.py): a configured field must equal
  * the identity's value on every row served or accepted.
  */
final class Gateway(
    runtime: ChannelRuntime,
    port: Int = 0,
    /** X13: channel -> field that must equal the caller identity
      * (header `x-identity`) on reads and writes. */
    authFilterFields: Map[String, String] = Map.empty,
    /** Invoked (background thread) after POST /controls/shutdown stops
      * the listeners — the launcher's chance to stop the runtime,
      * session, and process (reference gateway.stop does all three). */
    onShutdown: () => Unit = () => (),
    /** API-key authentication (reference MountAPIKeyMiddleware,
      * middleware/api_key.py:22-61): when non-empty, every request
      * must present one of these keys as a `token` query parameter,
      * `token` header, or `token` cookie — 403 "unauthorized"
      * otherwise. Empty = auth disabled (middleware not mounted). */
    apiKeys: Seq[String] = Nil,
    /** Simple username/password authentication (reference
      * MountSimpleAuthMiddleware, middleware/simple.py:135-459):
      * when non-empty, HTTP Basic credentials or a prior session
      * cookie authorize a request, `/login` (Basic or form POST)
      * issues an HttpOnly session cookie (UUID → identity, the
      * reference's `identity_store`), `/logout` revokes it. The
      * credential map is the offline analog of the reference's
      * external-validator hook (its PAM/Windows host validation is
      * host-specific); the authenticated username IS the X13
      * identity, so `authFilterFields` row filtering composes with
      * it exactly like the reference's IdentityAwareMiddlewareMixin.
      * Both middlewares may be mounted at once — any one passing
      * authorizes (reference multi-auth ordering). */
    simpleAuthUsers: Map[String, String] = Map.empty,
    /** Session lifetime for [[simpleAuthUsers]] cookies. */
    sessionTimeoutMillis: Long = 12L * 3600 * 1000,
    /** Session cookie name (reference default "session"). */
    sessionCookieName: String = "session",
    /** OAuth2/OIDC middleware (reference MountOAuth2Middleware,
      * middleware/oauth.py:23-358): authorization-code login at
      * /login → issuer, callback at /auth/callback mints the session
      * cookie, bearer tokens validate per-request; the userinfo
      * identity feeds X13 row filtering. Co-mountable with the other
      * middlewares — any one passing authorizes. */
    oauth: Option[OAuthConfig] = None,
    /** External API-key validator hook (reference
      * MountExternalAPIKeyMiddleware, api_key_external.py:23-180): a
      * presented `token` credential is handed to this function;
      * Some(identity) authorizes the request AND becomes its X13
      * identity. None (default) = plain [[apiKeys]] membership, the
      * offline credential-map analog. */
    apiKeyValidator: Option[String => Option[String]] = None,
    /** Static-field REST routes (reference MountFieldRestRoutes,
      * modules/web/mount_fields.py:10-82): non-ts values served at
      * GET /api/v1/field/{name} (listing at /field), JSON-serialized.
      * Unknown name → 404, like the reference's route. */
    staticFields: Map[String, Any] = Map.empty) {
  import Gateway.detailJson

  private val mapper = new ObjectMapper()
  private val oauthSupport: Option[OAuthSupport] = oauth.map(new OAuthSupport(_))
  /** Auth gate, send decoder and X13 row filter, shared with the
    * WebSocket endpoint; built (and its auth fields checked) before any
    * socket binds. */
  private val contract = new RequestContract(runtime, authFilterFields, apiKeys,
    simpleAuthUsers, sessionTimeoutMillis, sessionCookieName, oauthSupport, apiKeyValidator)
  // TCP_NODELAY on the JDK server: without it, small keep-alive
  // responses interleave with the peer's 40 ms delayed ACK and every
  // interactive read floors at ~44 ms (measured in round 8, SCALE.md
  // "Measured EXTERNAL ceiling"); the property is read at ServerConfig
  // class load, so set it before the first HttpServer instantiates
  Gateway.enableNoDelay()
  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  // cached (elastic) pool: /stream holds a thread per subscriber and
  // /next blocks up to 30s — a fixed pool would let a handful of
  // long-lived subscribers starve ingest entirely
  server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())

  def boundPort: Int = server.getAddress.getPort

  /** S6 — companion WebSocket endpoint (RFC 6455 needs a raw socket;
    * the JDK http server cannot upgrade connections, so it binds its
    * own port). Same runtime, same request contract.
    */
  private val ws = new WebSocketServer(runtime, contract)
  def wsPort: Int = ws.boundPort

  /** Wrap a context handler with the auth gate; the handler gets the
    * gate's view of the request and its identity, resolved once. */
  private def gated(h: (HttpExchange, RequestView, Option[String]) => Unit): HttpExchange => Unit =
    ex => {
      val req = Gateway.view(ex)
      contract.admit(req) match {
        case Right(identity) => h(ex, req, identity)
        case Left(refusal) =>
          refusal.challenge.foreach(ex.getResponseHeaders.set("WWW-Authenticate", _))
          respond(ex, refusal.status, RequestContract.UnauthorizedBody)
      }
    }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit =
    respondJson(ex, code, body.getBytes(StandardCharsets.UTF_8))

  private def respondJson(ex: HttpExchange, code: Int, bytes: Array[Byte]): Unit =
    respondBytes(ex, code, bytes, "application/json")

  private def respondBytes(ex: HttpExchange, code: Int, bytes: Array[Byte],
      contentType: String): Unit = {
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** K4 web surface — mount a [[graft.sinks.ViewServer]] so its named
    * views serve at `/api/v1/table/...` (reference perspective.py table
    * mounts; the `/arrow` variant ships the Arrow IPC stream a
    * Perspective browser table loads directly). When `refreshMillis`
    * is set, the periodic refresh loop is OWNED by this gateway: it
    * starts with [[start]] (never before the runtime is live) and is
    * interrupted by [[stop]] — a load-time thread would tick against a
    * not-yet-started runtime and outlive a stopped one. */
  @volatile private var viewServer: Option[graft.sinks.ViewServer] = None
  @volatile private var viewRefreshMillis: Option[Long] = None
  @volatile private var viewRefreshThread: Option[Thread] = None
  def attachViews(vs: graft.sinks.ViewServer, refreshMillis: Option[Long] = None): Unit = {
    viewServer = Some(vs)
    viewRefreshMillis = refreshMillis
  }

  /** Channel-graph visualization data (reference MountChannelsGraph,
    * modules/web/channels_graph.py:14-59): mounting a finalized
    * [[graft.core.ChannelGraph]]'s wiring serves
    * `GET /api/v1/channels_graph` →
    * `{channel: {"getters": [modules], "setters": [modules]}}` plus a
    * minimal browse page at `/channels_graph`. Unmounted → 404 (the
    * reference's route exists only when the module is configured).
    * By-name thunk: the graph may finalize after the mount.
    */
  /** Outputs-folder browser root (reference MountOutputsFolder,
    * modules/web/outputs.py:21-70): when set, `/outputs/{path}` lists
    * directories as link pages and streams files (text types render
    * in-browser). Canonical-path containment guards traversal. */
  @volatile private var outputsDir: Option[java.nio.file.Path] = None
  def attachOutputsFolder(dir: String): Unit =
    outputsDir = Some(java.nio.file.Paths.get(dir).toAbsolutePath.normalize())

  private def handleOutputs(ex: HttpExchange, root: java.nio.file.Path): Unit = {
    val rel = ex.getRequestURI.getPath.stripPrefix("/outputs").stripPrefix("/")
    val target = root.resolve(
      java.net.URLDecoder.decode(rel, "UTF-8")).toAbsolutePath.normalize()
    if (!target.startsWith(root) || !java.nio.file.Files.exists(target))
      respond(ex, 404, detailJson(s"Not found: /outputs/$rel"))
    else if (java.nio.file.Files.isDirectory(target)) {
      val base = ("/outputs/" + rel).stripSuffix("/")
      val items = java.nio.file.Files.list(target).iterator().asScala.toSeq
        .map(_.getFileName.toString).sorted
        .map { f =>
          val esc = f.replace("&", "&amp;").replace("<", "&lt;")
          s"""<li><a href="$base/${java.net.URLEncoder.encode(f, "UTF-8")}">$esc</a></li>"""
        }.mkString
      val html =
        s"""<!DOCTYPE html><html><head><title>Outputs</title></head>
           |<body><h1>$base</h1><ul>$items</ul></body></html>""".stripMargin
      respondBytes(ex, 200, html.getBytes(StandardCharsets.UTF_8), "text/html")
    } else {
      val name = target.getFileName.toString
      val contentType =
        if (name.endsWith(".log") || name.endsWith(".txt"))
          "text/plain; charset=utf-8" // browser-viewable, like the reference
        else Option(java.nio.file.Files.probeContentType(target))
          .getOrElse("application/octet-stream")
      respondBytes(ex, 200, java.nio.file.Files.readAllBytes(target), contentType)
    }
  }

  @volatile private var channelsGraphData:
      Option[() => Map[String, graft.core.ChannelConnections]] = None
  def attachChannelsGraph(g: => Map[String, graft.core.ChannelConnections]): Unit =
    channelsGraphData = Some(() => g)

  private def channelsGraphJson: Option[String] = channelsGraphData.map { thunk =>
    val root = mapper.createObjectNode()
    thunk().toSeq.sortBy(_._1).foreach { case (ch, conns) =>
      val node = root.putObject(ch)
      val getters = node.putArray("getters")
      conns.getters.foreach(getters.add)
      val setters = node.putArray("setters")
      conns.setters.foreach(setters.add)
    }
    mapper.writeValueAsString(root)
  }

  /** The caller's rows of channel `name` (X13) as a JSON array; rows
    * from the channel's frontier are served from their cached bytes. */
  private def respondRows(ex: HttpExchange, name: String, identity: Option[String],
      rows: Seq[org.apache.spark.sql.Row]): Unit = {
    val schema = runtime.schemaOf(name)
    respondJson(ex, 200, JsonCodec.rowsJson(contract.visible(name, schema, identity, rows), schema))
  }

  /** `req` is the gate's view of the request and `identity` its X13
    * identity (reference
    * IdentityAwareMiddlewareMixin: the auth middleware's identity feeds
    * the filter). */
  private def handle(ex: HttpExchange, req: RequestView, identity: Option[String]): Unit =
    try {
      val path = ex.getRequestURI.getPath.stripPrefix("/api/v1/")
      val parts = path.split("/").toList
      parts match {
        case "whoami" :: Nil =>
          // reference simple.py /whoami: the authenticated identity
          contract.simpleAuthUser(req) match {
            case Some(u) => respond(ex, 200, s"""{"user":"$u"}""")
            case None if simpleAuthUsers.nonEmpty =>
              respond(ex, 401, """{"detail":"Session not found"}""")
            case None => respond(ex, 404, """{"detail":"Not Found"}""")
          }
        case "last" :: name :: Nil if known(name) =>
          // dict-basket channels return the whole basket: one row per
          // key, key-sorted (reference last.py:84-111 get_last_basket)
          val rows =
            if (isBasket(name))
              runtime.lastByBasketKey(name).toSeq
                .sortBy(kv => String.valueOf(kv._1)).map(_._2)
            else runtime.last(name).toSeq
          respondRows(ex, name, identity, rows)
        case "last" :: name :: key :: Nil if isBasket(name) =>
          // per-key last (reference last.py:36-76): a key outside the
          // channel's key set → 404 (same admissibility rule as /next
          // and /send — open key domains admit every key);
          // admissible-but-unticked → []
          if (!keyDeclared(name, key))
            respond(ex, 404, detailJson(s"Channel not found: $name/$key"))
          else {
            val observed = runtime.lastByBasketKey(name).collectFirst {
              case (k, row) if String.valueOf(k) == key => row
            }
            respondRows(ex, name, identity, observed.toSeq)
          }
        case "next" :: name :: Nil if known(name) =>
          val r = runtime.awaitNext(name, 30.seconds)
          respondRows(ex, name, identity, r.toSeq)
        case "next" :: name :: key :: Nil if isBasket(name) =>
          // per-key next (reference futures/adapter.py:99-127); keys
          // outside a declared key set → 404
          if (!keyDeclared(name, key))
            respond(ex, 404, detailJson(s"Channel not found: $name/$key"))
          else {
            val r = runtime.awaitNextByKey(name, key, 30.seconds)
            respondRows(ex, name, identity, r.toSeq)
          }
        case "state" :: name :: Nil if known(name) =>
          val q = req.query("query").map(QueryTranslator.parseJson)
            .getOrElse(graft.state.StateQuery())
          val rows =
            try runtime.state(name, q)
            catch { case NonFatal(_) => Nil } // reference: errors → []
          respondRows(ex, name, identity, rows)
        case "lookup" :: name :: id :: Nil if known(name) =>
          val schema = runtime.schemaOf(name)
          contract.visible(name, schema, identity, runtime.lookup(name, id).toSeq) match {
            case Seq(row) => respondJson(ex, 200, JsonCodec.jsonBytes(JsonCodec.writeRow(_, row, schema)))
            case _ => respond(ex, 404, """{"detail":"id not found"}""")
          }
        case "stream" :: name :: Nil if known(name) =>
          handleStream(ex, req, name, identity)
        case "table" :: Nil =>
          val arr = mapper.createArrayNode()
          viewServer.map(_.names).getOrElse(Nil).foreach(arr.add)
          respond(ex, 200, mapper.writeValueAsString(arr))
        case "table" :: vname :: rest if rest.isEmpty || rest == List("arrow") =>
          viewServer.flatMap(vs => vs.snapshotWithSchema(vname)
            .map(s => (vs.channelOf(vname), s))) match {
            case None if viewServer.exists(_.names.contains(vname)) =>
              // defined but the first refresh hasn't landed yet: the
              // name IS in GET /table, so 404 would contradict the
              // listing. JSON serves the empty row set; arrow can't
              // (the compiled schema only exists post-refresh) → 503
              if (rest.isEmpty) respond(ex, 200, "[]")
              else {
                ex.getResponseHeaders.set("Retry-After", "2")
                respond(ex, 503, detailJson(s"Table not ready: $vname"))
              }
            case None =>
              respond(ex, 404, detailJson(s"Table not found: $vname"))
            case Some((channel, (rawRows, schema))) =>
              // X13 parity: a table over an identity-filtered channel
              // serves only the caller's rows — and if the view's
              // projection dropped the auth field (aggregates), it
              // serves nothing rather than leaking everyone's rows
              val rows = channel.fold(rawRows)(contract.visible(_, schema, identity, rawRows))
              if (rest.isEmpty) respondJson(ex, 200, JsonCodec.rowsJson(rows, schema))
              else
                respondBytes(ex, 200,
                  org.apache.spark.sql.graft.ArrowBridge.toArrowStream(rows, schema),
                  "application/vnd.apache.arrow.stream")
          }
        case "send" :: name :: rest if known(name) && rest.size <= 1 &&
            ex.getRequestMethod == "POST" && (rest.isEmpty || isBasket(name)) =>
          // /send/{ch} or /send/{ch}/{key} (reference send.py:41-87):
          // the path key is injected as the basket key column
          val keyOpt = rest.headOption
          if (keyOpt.exists(k => !keyDeclared(name, k))) {
            respond(ex, 404, detailJson(s"Channel not found: $name/${keyOpt.get}"))
            return
          }
          val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
          val maps = contract.sendRows(name, mapper.readTree(body), keyOpt, identity)
          respondRows(ex, name, identity, runtime.send(name, maps))
        // static-field routes (reference MountFieldRestRoutes,
        // mount_fields.py:10-82): GET /field → names, GET
        // /field/{name} → the JSON-serialized value, 404 unknown
        case "field" :: Nil if ex.getRequestMethod == "GET" =>
          val arr = mapper.createArrayNode()
          staticFields.keys.toSeq.sorted.foreach(arr.add)
          respond(ex, 200, mapper.writeValueAsString(arr))
        case "field" :: fname :: Nil if ex.getRequestMethod == "GET" =>
          staticFields.get(fname) match {
            case Some(v) => respondJson(ex, 200, JsonCodec.jsonBytes(JsonCodec.writeAny(_, v)))
            case None =>
              respond(ex, 404,
                detailJson(s"Channel field not found: $fname"))
          }
        // available-channels listing per route family (reference
        // last.py:160-170 add_*_available_channels: GET /last/ → names)
        case family :: rest if AvailableFamilies(family) &&
            (rest.isEmpty || rest == List("")) && ex.getRequestMethod == "GET" =>
          val names = runtime.specs.keys.toSeq.sorted
          respond(ex, 200, mapper.writeValueAsString(names.toArray))
        // controls (reference routes/controls.py): heartbeat / stats /
        // shutdown — the UI kill-switch + liveness surface
        case "channels_graph" :: Nil if ex.getRequestMethod == "GET" =>
          channelsGraphJson match {
            case Some(json) => respond(ex, 200, json)
            case None       => respond(ex, 404, """{"detail":"Not Found"}""")
          }
        case "controls" :: "heartbeat" :: Nil if ex.getRequestMethod == "GET" =>
          // degraded while any channel's query is down, naming each
          val down = runtime.downChannels
          respond(ex, 200, mapper.writeValueAsString(Map(
            "name" -> "heartbeat",
            "status" -> (if (down.isEmpty) "ok" else "degraded"),
            "down" -> down.asJava,
            "timestamp" -> java.time.Instant.now().toString).asJava))
        case "controls" :: "stats" :: Nil if ex.getRequestMethod == "GET" =>
          val rt = Runtime.getRuntime
          val data = Map(
            "cpu" -> rt.availableProcessors(),
            "memory" -> (rt.totalMemory() - rt.freeMemory()),
            "memory-total" -> rt.maxMemory(),
            "now" -> java.time.Instant.now().toString,
            "host" -> java.net.InetAddress.getLocalHost.getHostName,
            "user" -> System.getProperty("user.name", ""))
          respond(ex, 200, mapper.writeValueAsString(
            Map("name" -> "stats", "status" -> "ok", "data" -> data.asJava).asJava))
        case "controls" :: "shutdown" :: Nil if ex.getRequestMethod == "POST" =>
          respond(ex, 200, """{"name":"shutdown","status":"ok"}""")
          // background, like the reference's BackgroundTasks: the
          // response must flush before the server dies. onShutdown lets
          // the launcher take down the runtime/session/process too —
          // stopping only the listeners would leave a zombie JVM
          new Thread(() => {
            Thread.sleep(100); stop(); onShutdown()
          }, "graft-shutdown").start()
        case _ => respond(ex, 404, """{"detail":"Not Found"}""")
      }
    } catch {
      case e: IllegalArgumentException =>
        respond(ex, 422, detailJson(e.getMessage))
      case NonFatal(e) =>
        respond(ex, 500, detailJson(e.getMessage))
    }

  /** K8/K9 — streaming egress: server-sent events, one `data:` frame
    * per tick (the reference's websocket fanout re-expressed on the
    * JDK server; frame payload matches `{"channel","data"}` shape,
    * websocket.py:183-225) plus 1s heartbeat pings (websocket.py:38).
    * Frames carry only the caller's rows (X13), like every egress.
    * Demand-driven: the listener exists only while the client is
    * connected. A client that falls [[Gateway.EgressQueueFrames]] frames
    * behind is dropped, as WebSocket drops a slow consumer: the listener
    * detaches at once, and the stream closes once its pending write
    * returns. `?max_events=N` closes after N data frames (testing).
    */
  private def handleStream(ex: HttpExchange, req: RequestView, name: String,
      identity: Option[String]): Unit = {
    val maxEvents = req.query("max_events").map(_.toLong).getOrElse(Long.MaxValue)
    ex.getResponseHeaders.set("Content-Type", "text/event-stream")
    ex.getResponseHeaders.set("Cache-Control", "no-cache")
    ex.sendResponseHeaders(200, 0)
    val os = ex.getResponseBody
    val queue = new java.util.concurrent.LinkedBlockingQueue[Array[Byte]](Gateway.EgressQueueFrames)
    @volatile var dropped = false
    val schema = runtime.schemaOf(name)
    lazy val listener: (String, Seq[org.apache.spark.sql.Row]) => Unit = (ch, rows) =>
      if (ch == name && !dropped) contract.visible(name, schema, identity, rows).foreach { r =>
        if (!dropped && !queue.offer(Gateway.frameJson(name, None, r, schema))) {
          dropped = true // slow consumer: stop buffering for it
          runtime.removeListener(listener)
          queue.clear()
        }
      }
    runtime.addListener(listener)
    try {
      var sent = 0L
      var open = true
      while (open && !dropped && sent < maxEvents) {
        val item = queue.poll(1, java.util.concurrent.TimeUnit.SECONDS)
        try {
          if (item == null) os.write(": ping\n\n".getBytes(StandardCharsets.UTF_8)) // K9
          else {
            os.write("data: ".getBytes(StandardCharsets.UTF_8))
            os.write(item)
            os.write("\n\n".getBytes(StandardCharsets.UTF_8))
            sent += 1
          }
          os.flush()
        } catch { case _: java.io.IOException => open = false }
      }
    } finally {
      runtime.removeListener(listener)
      ex.close()
    }
  }

  // ---- OpenAPI/docs surface (reference test_webserver.py:80-110:
  // GET /openapi.json → {"info":{"title":"Gateway",...},"paths":{...}};
  // route entries carry the channel row type) ----------------------------

  private def structToJsonSchema(st: org.apache.spark.sql.types.StructType): JsonNode = {
    import org.apache.spark.sql.types._
    def typeNode(dt: DataType): com.fasterxml.jackson.databind.node.ObjectNode = {
      val n = mapper.createObjectNode()
      dt match {
        case ByteType | ShortType | IntegerType | LongType => n.put("type", "integer")
        case FloatType | DoubleType | _: DecimalType => n.put("type", "number")
        case BooleanType => n.put("type", "boolean")
        case TimestampType => n.put("type", "string"); n.put("format", "date-time")
        case ArrayType(et, _) => n.put("type", "array"); n.set[JsonNode]("items", typeNode(et))
        case s: StructType =>
          n.put("type", "object")
          val props = n.putObject("properties")
          s.fields.foreach(f => props.set[JsonNode](f.name, typeNode(f.dataType)))
        case _ => n.put("type", "string")
      }
      n
    }
    typeNode(st)
  }

  private def openApiJson: String = {
    val root = mapper.createObjectNode()
    root.put("openapi", "3.1.0")
    val info = root.putObject("info")
    info.put("title", "Gateway")
    info.put("version", Gateway.Version)
    val paths = root.putObject("paths")
    val comps = root.putObject("components").putObject("schemas")
    runtime.specs.toSeq.sortBy(_._1).foreach { case (name, spec) =>
      val schemaName = name.capitalize
      comps.set[JsonNode](schemaName, structToJsonSchema(runtime.runtimeSchema(spec)))
      def op(verb: String, path: String, summary: String): Unit = {
        val o = paths.withObjectProperty(path).putObject(verb)
        o.put("summary", summary)
        o.put("type_", schemaName) // route row type, reference openapi_extra
        val resp = o.putObject("responses").putObject("200")
        resp.put("description", "rows")
        resp.putObject("content").putObject("application/json").putObject("schema")
          .put("$ref", s"#/components/schemas/$schemaName")
      }
      op("get", s"/api/v1/last/$name", s"Get Last $name")
      op("get", s"/api/v1/next/$name", s"Get Next $name")
      op("get", s"/api/v1/state/$name", s"Get State $name")
      op("get", s"/api/v1/lookup/$name/{id}", s"Lookup $name by id")
      op("get", s"/api/v1/stream/$name", s"Stream $name (SSE)")
      op("post", s"/api/v1/send/$name", s"Send $name")
      if (spec.basketKey.isDefined) {
        op("get", s"/api/v1/last/$name/{key}", s"Get Last $name by key")
        op("get", s"/api/v1/next/$name/{key}", s"Get Next $name by key")
        op("post", s"/api/v1/send/$name/{key}", s"Send $name by key")
      }
    }
    // family listings + controls (reference controls.py, *_available_channels)
    Seq("last", "next", "state", "send", "lookup", "stream").foreach { f =>
      paths.withObjectProperty(s"/api/v1/$f/").putObject("get")
        .put("summary", s"Available channels under /$f")
    }
    if (channelsGraphData.isDefined)
      paths.withObjectProperty("/api/v1/channels_graph").putObject("get")
        .put("summary", "Channel/module wiring graph data")
    if (staticFields.nonEmpty) {
      paths.withObjectProperty("/api/v1/field").putObject("get")
        .put("summary", "Available static fields")
      staticFields.keys.toSeq.sorted.foreach { f =>
        paths.withObjectProperty(s"/api/v1/field/$f").putObject("get")
          .put("summary", s"Get Channel field $f")
      }
    }
    if (oauthSupport.isDefined) {
      paths.withObjectProperty("/login").putObject("get")
        .put("summary", "Redirect to the OAuth2 authorization endpoint")
      paths.withObjectProperty("/auth/callback").putObject("get")
        .put("summary", "OAuth2 authorization-code callback")
      paths.withObjectProperty("/auth/logout").putObject("get")
        .put("summary", "Drop the OAuth session")
      paths.withObjectProperty("/auth/userinfo").putObject("get")
        .put("summary", "Authenticated session's userinfo claims")
    }
    paths.withObjectProperty("/api/v1/controls/heartbeat").putObject("get")
      .put("summary", "Liveness ping: degraded, naming each channel whose query is down")
    paths.withObjectProperty("/api/v1/controls/stats").putObject("get")
      .put("summary", "Engine and system stats")
    paths.withObjectProperty("/api/v1/controls/shutdown").putObject("post")
      .put("summary", "Clean shutdown (kill switch)")
    mapper.writeValueAsString(root)
  }

  private val docsHtml =
    """<!DOCTYPE html><html><head><title>Gateway API</title></head>
      |<body><h1>Gateway API</h1>
      |<p>OpenAPI document: <a href="/openapi.json">/openapi.json</a></p>
      |</body></html>""".stripMargin

  /** Route families with an available-channels listing at GET /{f}/. */
  private val AvailableFamilies =
    Set("last", "next", "state", "send", "lookup", "stream")

  private def known(name: String): Boolean = runtime.specs.contains(name)

  private def isBasket(name: String): Boolean =
    runtime.specs.get(name).exists(_.basketKey.isDefined)

  /** Key admissible for a basket channel: inside the declared key set,
    * or any key when the domain is open (str-typed basket). */
  private def keyDeclared(name: String, key: String): Boolean =
    runtime.specs.get(name).forall(_.basketKeys.forall(_.contains(key)))

  /** Session cookie attributes (reference set_cookie: HttpOnly,
    * max-age = session timeout). */
  private def sessionSetCookie(uuid: String): String =
    s"$sessionCookieName=$uuid; HttpOnly; Path=/; Max-Age=${sessionTimeoutMillis / 1000}"

  private def redirect(ex: HttpExchange, location: String,
      setCookie: Option[String]): Unit = {
    ex.getResponseHeaders.set("Location", location)
    setCookie.foreach(ex.getResponseHeaders.set("Set-Cookie", _))
    ex.sendResponseHeaders(303, -1)
    ex.close()
  }

  /** `/login` (reference simple.py:356-418): form POST or HTTP Basic;
    * success mints a session and redirects to `/` with the cookie set
    * (the reference's RedirectResponse), invalid Basic gets the 401
    * challenge, a bare GET renders the login form.
    */
  private def handleLogin(ex: HttpExchange): Unit =
    try {
      if (ex.getRequestMethod == "POST") {
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val form = body.split("&").flatMap(_.split("=", 2) match {
          case Array(k, v) => Some(java.net.URLDecoder.decode(k, "UTF-8") ->
            java.net.URLDecoder.decode(v, "UTF-8"))
          case _ => None
        }).toMap
        (form.get("username"), form.get("password")) match {
          case (Some(u), Some(p)) if u.nonEmpty && p.nonEmpty =>
            if (simpleAuthUsers.get(u).contains(p))
              redirect(ex, "/", Some(sessionSetCookie(contract.createSession(u))))
            else redirect(ex, "/login?error=invalid_credentials", None)
          case _ => redirect(ex, "/login?error=missing_credentials", None)
        }
      } else if (Option(ex.getRequestHeaders.getFirst("Authorization")).exists(_.startsWith("Basic "))) {
        contract.basicUser(ex.getRequestHeaders.getFirst("Authorization")) match {
          case Some(u) => redirect(ex, "/", Some(sessionSetCookie(contract.createSession(u))))
          case None =>
            ex.getResponseHeaders.set("WWW-Authenticate", "Basic")
            respond(ex, 401, RequestContract.UnauthorizedBody)
        }
      } else {
        val err = Option(ex.getRequestURI.getRawQuery)
          .filter(_.contains("error=")).map(_ => "<p>Invalid credentials.</p>").getOrElse("")
        val html =
          s"""<!DOCTYPE html><html><head><title>Login</title></head><body>
             |<h1>Login</h1>$err
             |<form method="post" action="/login">
             |<label>Username <input name="username"/></label>
             |<label>Password <input name="password" type="password"/></label>
             |<button type="submit">Log in</button></form>
             |</body></html>""".stripMargin
        respondBytes(ex, 200, html.getBytes(StandardCharsets.UTF_8), "text/html")
      }
    } catch {
      case NonFatal(e) => respond(ex, 500, detailJson(e.getMessage))
    }

  /** `/logout` (reference simple.py:420-428): drop the session, expire
    * the cookie, redirect to the login page.
    */
  private def handleLogout(ex: HttpExchange): Unit = {
    Gateway.view(ex).cookie(sessionCookieName).foreach(contract.dropSession)
    ex.getResponseHeaders.set("Set-Cookie",
      s"$sessionCookieName=; HttpOnly; Path=/; Max-Age=0")
    redirect(ex, "/login", None)
  }

  /** OAuth2 route handlers (reference oauth.py:259-345 `rest`):
    * /login redirects to the issuer's authorize endpoint,
    * /auth/callback exchanges the code, fetches userinfo, mints the
    * session cookie and redirects home; /auth/logout drops the
    * session; /auth/userinfo returns the authenticated session's
    * claims document.
    */
  private def handleOAuth(ex: HttpExchange, o: OAuthSupport): Unit =
    try {
      val path = ex.getRequestURI.getPath
      val req = Gateway.view(ex)
      // configured URI wins — deriving it from the Host header lets a
      // spoofed Host steer the issuer's redirect (ADVICE r8)
      def callbackUri: String = o.configuredRedirectUri.getOrElse {
        val host = Option(ex.getRequestHeaders.getFirst("Host"))
          .getOrElse(s"127.0.0.1:$boundPort")
        s"http://$host/auth/callback"
      }
      path match {
        case "/auth/callback" =>
          (req.query("error"), req.query("code")) match {
            case (Some(err), _) =>
              respond(ex, 400, s"""{"error":${mapper.writeValueAsString(err)}}""")
            case (None, None) =>
              respond(ex, 400, """{"error":"No authorization code provided"}""")
            case (None, Some(_)) if !req.query("state").exists(o.consumeState) =>
              // CSRF gate: the state must be one this gateway minted at
              // /login (one-shot, TTL-bounded) — else an attacker can
              // inject their own code into a victim's session
              respond(ex, 400, """{"error":"Invalid or missing state parameter"}""")
            case (None, Some(code)) =>
              try {
                val tokens = o.exchangeCode(code, callbackUri)
                Option(tokens.get("access_token")).map(_.asText()) match {
                  case None =>
                    respond(ex, 400, """{"error":"No access token in response"}""")
                  case Some(access) =>
                    o.fetchUserinfo(access) match {
                      case None => respond(ex, 400, """{"error":"userinfo fetch failed"}""")
                      case Some(info) =>
                        val uuid = o.createSession(info)
                        redirect(ex, "/", Some(
                          s"${o.cookieName}=$uuid; HttpOnly; Path=/; " +
                            s"Max-Age=${o.sessionTimeoutMillis / 1000}"))
                    }
                }
              } catch {
                case NonFatal(e) =>
                  respond(ex, 500,
                    s"""{"error":${mapper.writeValueAsString(String.valueOf(e.getMessage))}}""")
              }
          }
        case "/auth/logout" =>
          req.cookie(o.cookieName).foreach(o.dropSession)
          ex.getResponseHeaders.set("Set-Cookie",
            s"${o.cookieName}=; HttpOnly; Path=/; Max-Age=0")
          redirect(ex, "/login", None)
        case "/auth/userinfo" =>
          req.cookie(o.cookieName).flatMap(o.sessionUserinfo)
            .orElse(o.userinfoFrom(
              Option(ex.getRequestHeaders.getFirst("Authorization")))) match {
            case Some(info) => respond(ex, 200, mapper.writeValueAsString(info))
            case None       => respond(ex, 401, """{"detail":"Session not found"}""")
          }
        case _ if path == "/login" || path == "/auth/login" =>
          redirect(ex, o.loginRedirectUrl(callbackUri), None)
        case _ => respond(ex, 404, """{"detail":"Not Found"}""")
      }
    } catch {
      case NonFatal(e) =>
        respond(ex, 500,
          detailJson(e.getMessage))
    }

  def start(): Gateway = {
    if (simpleAuthUsers.nonEmpty) {
      server.createContext("/login", (ex: HttpExchange) => handleLogin(ex))
      server.createContext("/logout", (ex: HttpExchange) => handleLogout(ex))
    }
    oauthSupport.foreach { o =>
      server.createContext("/auth", (ex: HttpExchange) => handleOAuth(ex, o))
      // simple auth keeps /login when both are mounted (its form can
      // name either path; OAuth login stays reachable at /auth/login)
      if (simpleAuthUsers.isEmpty)
        server.createContext("/login", (ex: HttpExchange) => handleOAuth(ex, o))
    }
    server.createContext("/api/v1", (ex: HttpExchange) => gated(handle)(ex))
    server.createContext("/outputs", (ex: HttpExchange) => gated { (e, _, _) =>
      outputsDir match {
        case Some(root) =>
          try handleOutputs(e, root)
          catch { case NonFatal(err) =>
            respond(e, 500, detailJson(err.getMessage)) }
        case None => respond(e, 404, """{"detail":"Not Found"}""")
      }
    }(ex))
    server.createContext("/openapi.json", (ex: HttpExchange) => gated { (ex, _, _) =>
      try respond(ex, 200, openApiJson)
      catch { case NonFatal(e) => respond(ex, 500, detailJson(e.getMessage)) }
    }(ex))
    server.createContext("/docs", (ex: HttpExchange) =>
      respondBytes(ex, 200, docsHtml.getBytes(StandardCharsets.UTF_8), "text/html"))
    // browse page (reference app_router /channels_graph: a small page
    // rendering the wiring; the interactive JS viz is out of scope —
    // this embeds the same JSON the API route serves)
    server.createContext("/channels_graph", (ex: HttpExchange) =>
      channelsGraphJson match {
        case Some(json) =>
          val html =
            s"""<!DOCTYPE html><html><head><title>Channels Graph</title></head>
               |<body><h1>Channels Graph</h1>
               |<pre id="graph">${json.replace("<", "&lt;")}</pre>
               |<p>Data endpoint: <a href="/api/v1/channels_graph">/api/v1/channels_graph</a></p>
               |</body></html>""".stripMargin
          respondBytes(ex, 200, html.getBytes(StandardCharsets.UTF_8), "text/html")
        case None => respond(ex, 404, """{"detail":"Not Found"}""")
      })
    // table workspace pages (reference modules/web/perspective.py
    // mounts a Perspective viewer workspace; the Perspective JS bundle
    // is out of scope offline — these pages render the SAME data plane
    // (/api/v1/table JSON, auto-refreshed) with dependency-free inline
    // JS, so a browser pointed at the gateway still browses every view)
    server.createContext("/tables", (ex: HttpExchange) => {
      def page(title: String, body: String): Unit = {
        val html =
          s"""<!DOCTYPE html><html><head><title>$title</title><style>
             |body{font-family:sans-serif;margin:2em}table{border-collapse:collapse}
             |td,th{border:1px solid #999;padding:4px 8px;font-size:13px}
             |th{background:#eee}</style></head><body>$body</body></html>""".stripMargin
        respondBytes(ex, 200, html.getBytes(StandardCharsets.UTF_8), "text/html")
      }
      val rest = ex.getRequestURI.getPath.stripPrefix("/tables").stripPrefix("/")
      (viewServer, rest) match {
        case (None, _) => respond(ex, 404, """{"detail":"Not Found"}""")
        case (Some(vs), "") =>
          val items = vs.names.sorted
            .map(n => s"""<li><a href="/tables/$n">$n</a></li>""").mkString
          page("Tables", s"<h1>Tables</h1><ul>$items</ul>" +
            """<p>Data endpoints: <code>/api/v1/table/{name}</code> (JSON), """ +
            """<code>/api/v1/table/{name}/arrow</code> (Arrow IPC)</p>""")
        case (Some(vs), name) if vs.names.contains(name) =>
          // pivot workspace against the JSON data plane (the
          // Perspective-viewer use-case from perspective.py:179-641,
          // re-expressed as dependency-free inline JS so it works in
          // the zero-egress sandbox): group-by over any column set,
          // sum/avg/min/max/count aggregation, per-column filter,
          // click-to-sort headers, row limit — all computed
          // client-side over the fetched frame, live-refreshed.
          // Cell values are client-supplied via /send — escape them
          // (and column names), or a value like <img onerror=…> is
          // stored XSS against anyone viewing the page
          page(s"Table $name",
            s"""<h1>$name</h1>
               |<div id="ctl" class="ctl"></div>
               |<div id="t">loading…</div><script>
               |'use strict';
               |const esc = s => String(s).replace(/&/g,'&amp;').replace(/</g,'&lt;')
               |  .replace(/>/g,'&gt;').replace(/"/g,'&quot;');
               |const state = {groupBy: [], splitBy: '', agg: 'count', aggCol: '',
               |               sortCol: '', sortDir: 1,
               |               filterCol: '', filterOp: '==', filterVal: '',
               |               limit: 500, cols: [], view: 'grid', exprs: []};
               |let raw = [];
               |// computed expression columns (the Perspective ExprTK
               |// use-case, perspective.py:133-142): 'name = "col" * 2'
               |// entries, ';'-separated. A tiny recursive-descent parser —
               |// NEVER eval/Function: the page already defends stored XSS
               |// from /send values, and an expression evaluator must not
               |// reopen arbitrary-JS execution through a shared URL or a
               |// pasted workspace config. Grammar: add/sub over mul/div/mod
               |// over unary-minus/parens/number/"column-ref"/fn(arg) with
               |// fn in abs sqrt round floor ceil log exp; null propagates.
               |function compileExpr(src){
               |  let i = 0;
               |  const fail = m => { throw new Error('expr: ' + m + ' near pos ' + i); };
               |  const ws = () => { while (i < src.length && src[i] === ' ') i++; };
               |  const FNS = {abs: Math.abs, sqrt: Math.sqrt, round: Math.round,
               |               floor: Math.floor, ceil: Math.ceil, log: Math.log, exp: Math.exp};
               |  function atom(){
               |    ws();
               |    if (src[i] === '(') { i++; const e = add(); ws();
               |      if (src[i++] !== ')') fail("missing ')'"); return e; }
               |    if (src[i] === '-') { i++; const e = atom();
               |      return r => { const v = e(r); return v === null ? null : -v; }; }
               |    if (src[i] === '"') { const j = src.indexOf('"', i + 1);
               |      if (j < 0) fail('unterminated column ref');
               |      const c = src.slice(i + 1, j); i = j + 1;
               |      return r => { const v = r[c];
               |        return typeof v === 'number' ? v : v === null || v === undefined ? null : Number(v); }; }
               |    let m = /^[0-9]+(\\.[0-9]+)?/.exec(src.slice(i));
               |    if (m) { i += m[0].length; const n = Number(m[0]); return () => n; }
               |    m = /^[a-z]+/.exec(src.slice(i));
               |    if (m && FNS[m[0]]) { const f = FNS[m[0]]; i += m[0].length; ws();
               |      if (src[i++] !== '(') fail("missing '(' after fn"); const e = add(); ws();
               |      if (src[i++] !== ')') fail("missing ')' after fn arg");
               |      return r => { const v = e(r); return v === null || isNaN(v) ? null : f(v); }; }
               |    fail('unparseable');
               |  }
               |  function bin(next, ops){
               |    return function(){
               |      let e = next();
               |      for (;;) { ws(); const op = ops[src[i]];
               |        if (!op) return e;
               |        i++; const l = e, rhs = next();
               |        e = r => { const a = l(r), b = rhs(r);
               |          return a === null || b === null ? null : op(a, b); };
               |      }
               |    };
               |  }
               |  const mul = bin(atom, {'*': (a,b) => a*b, '/': (a,b) => b === 0 ? null : a/b,
               |                         '%': (a,b) => b === 0 ? null : a%b});
               |  const add = bin(mul, {'+': (a,b) => a+b, '-': (a,b) => a-b});
               |  const e = add(); ws();
               |  if (i < src.length) fail('trailing input');
               |  return e;
               |}
               |// 'name = expr; name2 = expr2' -> state.exprs; throws on a
               |// malformed entry (apply shows the message, state unchanged)
               |function setExprs(text){
               |  const out = [];
               |  for (const part of String(text).split(';')) {
               |    if (!part.trim()) continue;
               |    const eq = part.indexOf('=');
               |    if (eq < 0) throw new Error('expr: expected name = expression');
               |    const name = part.slice(0, eq).trim();
               |    if (!/^[A-Za-z_][A-Za-z0-9_ ]*$$/.test(name)) throw new Error('expr: bad name ' + name);
               |    out.push({name: name, fn: compileExpr(part.slice(eq + 1).trim())});
               |  }
               |  state.exprs = out;
               |}
               |function withComputed(rows){
               |  if (!state.exprs.length) return rows;
               |  return rows.map(r => {
               |    const o = Object.assign({}, r);
               |    for (const ex of state.exprs) {
               |      let v = null;
               |      try { v = ex.fn(o); } catch (e) { v = null; }
               |      o[ex.name] = typeof v === 'number' && !isFinite(v) ? null : v;
               |    }
               |    return o;
               |  });
               |}
               |function cmp(a, b){
               |  if (a === b) return 0;
               |  if (a === null || a === undefined) return -1;
               |  if (b === null || b === undefined) return 1;
               |  if (typeof a === 'number' && typeof b === 'number') return a - b;
               |  return String(a) < String(b) ? -1 : 1;
               |}
               |function applyFilter(rows){
               |  if (!state.filterCol || state.filterVal === '') return rows;
               |  const c = state.filterCol, v = state.filterVal;
               |  const n = Number(v), useNum = v !== '' && !isNaN(n);
               |  return rows.filter(r => {
               |    const x = r[c];
               |    const [xa, va] = (useNum && typeof x === 'number') ? [x, n] : [String(x), v];
               |    switch (state.filterOp) {
               |      case '==': return xa === va; case '!=': return xa !== va;
               |      case '<':  return xa <  va;  case '<=': return xa <= va;
               |      case '>':  return xa >  va;  case '>=': return xa >= va;
               |      case 'contains': return String(x).indexOf(v) >= 0;
               |      default: return true;
               |    }
               |  });
               |}
               |function aggCell(g){
               |  // numeric aggregates divide/report over the NUMERIC value
               |  // count (g.cnt), SQL-style: nulls neither dilute an avg nor
               |  // turn an all-null group's sum into 0
               |  return state.agg === 'count' ? g.n
               |    : state.agg === 'sum' ? (g.cnt ? g.sum : null)
               |    : state.agg === 'avg' ? (g.cnt ? g.sum / g.cnt : null)
               |    : state.agg === 'min' ? g.min : g.max;
               |}
               |function accumulate(g, r){
               |  g.n += 1;
               |  const x = state.aggCol ? r[state.aggCol] : null;
               |  if (typeof x === 'number') {
               |    g.cnt += 1;
               |    g.sum += x;
               |    g.min = g.min === null ? x : Math.min(g.min, x);
               |    g.max = g.max === null ? x : Math.max(g.max, x);
               |  }
               |}
               |function pivot(rows){
               |  if (!state.groupBy.length) return rows;
               |  const label = state.agg === 'count' ? 'count'
               |    : state.agg + '(' + state.aggCol + ')';
               |  const m = new Map();
               |  const splits = new Set();
               |  for (const r of rows) {
               |    const key = state.groupBy.map(c => JSON.stringify(r[c])).join('\\u0001');
               |    let g = m.get(key);
               |    if (!g) { g = {row: r, subs: new Map(), all: {n:0,cnt:0,sum:0,min:null,max:null}}; m.set(key, g); }
               |    if (state.splitBy) {
               |      // split-by: one aggregate column per split value (the
               |      // Perspective split_by crosstab)
               |      const sv = String(r[state.splitBy]);
               |      splits.add(sv);
               |      let s = g.subs.get(sv);
               |      if (!s) { s = {n:0,cnt:0,sum:0,min:null,max:null}; g.subs.set(sv, s); }
               |      accumulate(s, r);
               |    } else accumulate(g.all, r);
               |  }
               |  const svs = Array.from(splits).sort();
               |  return Array.from(m.values()).map(g => {
               |    const out = {};
               |    for (const c of state.groupBy) out[c] = g.row[c];
               |    if (state.splitBy)
               |      for (const sv of svs) {
               |        const s = g.subs.get(sv);
               |        out[label + ' | ' + sv] = s ? aggCell(s) : null;
               |      }
               |    else out[label] = aggCell(g.all);
               |    return out;
               |  });
               |}
               |// horizontal grouped-bar SVG over the PIVOTED rows — the
               |// Perspective chart-plugin use-case without the JS bundle.
               |// One band per group, one bar per value column (split-by
               |// crosstabs become grouped bars); negatives extend left of a
               |// shared zero baseline; scale = max |value| over the frame.
               |function chartSvg(rows, cols){
               |  const keyCols = state.groupBy.filter(c => cols.indexOf(c) >= 0);
               |  const valCols = cols.filter(c => keyCols.indexOf(c) < 0);
               |  if (!rows.length || !valCols.length)
               |    return '<p>nothing to chart (group by + aggregate first)</p>';
               |  let mx = 0;
               |  for (const r of rows) for (const c of valCols) {
               |    const v = r[c]; if (typeof v === 'number') mx = Math.max(mx, Math.abs(v));
               |  }
               |  if (mx === 0) mx = 1;
               |  const W = 640, L = 180, bh = 12, gap = 6;
               |  const hasNeg = rows.some(r => valCols.some(c => r[c] < 0));
               |  const x0 = hasNeg ? L + (W - L) / 2 : L, span = W - 10 - x0;
               |  const hue = i => 'hsl(' + (i * 67 % 360) + ',60%,45%)';
               |  const gh = valCols.length * bh + gap;
               |  let y = 4, s = '';
               |  for (const r of rows) {
               |    const label = keyCols.map(c => r[c]).join(' / ') || '(all)';
               |    s += '<text x="' + (L - 6) + '" y="' + (y + gh / 2) +
               |      '" text-anchor="end" font-size="11">' + esc(label) + '</text>';
               |    valCols.forEach((c, i) => {
               |      const v = r[c];
               |      if (typeof v === 'number') {
               |        const w = Math.abs(v) / mx * span;
               |        s += '<rect x="' + (v < 0 ? x0 - w : x0) + '" y="' + (y + i * bh) +
               |          '" width="' + Math.max(w, 0.5) + '" height="' + (bh - 2) +
               |          '" fill="' + hue(i) + '"><title>' + esc(c + ' = ' + v) +
               |          '</title></rect>';
               |      }
               |    });
               |    y += gh;
               |  }
               |  s += '<line x1="' + x0 + '" y1="0" x2="' + x0 + '" y2="' + y +
               |    '" stroke="#888"/>';
               |  const legend = valCols.map((c, i) =>
               |    '<tspan fill="' + hue(i) + '">&#9632;</tspan> ' + esc(c)).join('  ');
               |  s += '<text x="' + x0 + '" y="' + (y + 14) + '" font-size="11">' +
               |    legend + '</text>';
               |  return '<svg width="' + W + '" height="' + (y + 22) + '">' + s + '</svg>';
               |}
               |function render(){
               |  let rows = pivot(applyFilter(withComputed(raw)));
               |  if (state.sortCol)
               |    rows = rows.slice().sort((a, b) =>
               |      state.sortDir * cmp(a[state.sortCol], b[state.sortCol]));
               |  rows = rows.slice(0, state.limit);
               |  const cols = rows.length ? Object.keys(rows[0]) : state.cols;
               |  if (state.view === 'bar' && state.groupBy.length) {
               |    document.getElementById('t').innerHTML = chartSvg(rows, cols);
               |    return;
               |  }
               |  let h = '<table><tr>' + cols.map(c =>
               |    '<th class="hdr" data-c="' + esc(c) + '">' + esc(c) +
               |    (state.sortCol === c ? (state.sortDir > 0 ? ' ▲' : ' ▼') : '') +
               |    '</th>').join('') + '</tr>';
               |  for (const row of rows)
               |    h += '<tr>' + cols.map(c => '<td>' + esc(row[c]) + '</td>').join('') + '</tr>';
               |  document.getElementById('t').innerHTML = h + '</table>';
               |  for (const th of document.querySelectorAll('th.hdr'))
               |    th.onclick = () => {
               |      const c = th.getAttribute('data-c');
               |      if (state.sortCol === c) state.sortDir = -state.sortDir;
               |      else { state.sortCol = c; state.sortDir = 1; }
               |      render();
               |    };
               |}
               |function controls(){
               |  const sel = (id, opts, multi) => '<select id="' + id + '"' +
               |    (multi ? ' multiple size="3"' : '') + '>' + opts.map(o =>
               |    '<option value="' + esc(o) + '">' + esc(o || '(none)') +
               |    '</option>').join('') + '</select>';
               |  // expression columns join every column list: group by,
               |  // aggregate over, split by, and filter all accept them
               |  const allCols = state.cols.concat(state.exprs.map(ex => ex.name));
               |  document.getElementById('ctl').innerHTML =
               |    'group by ' + sel('gb', allCols, true) +
               |    ' split by ' + sel('sb', [''].concat(allCols)) +
               |    ' agg ' + sel('agg', ['count','sum','avg','min','max']) +
               |    ' of ' + sel('aggc', [''].concat(allCols)) +
               |    ' filter ' + sel('fc', [''].concat(allCols)) +
               |    sel('fop', ['==','!=','<','<=','>','>=','contains']) +
               |    ' <input id="fv" size="8"> limit <input id="lim" size="5" value="500">' +
               |    ' view ' + sel('vw', ['grid','bar']) +
               |    ' exprs <input id="ex" size="28" placeholder="notional = &quot;qty&quot; * &quot;price&quot;">' +
               |    ' <button id="apply">apply</button> <span id="n"></span> <span id="err"></span>';
               |  document.getElementById('apply').onclick = () => {
               |    document.getElementById('err').textContent = '';
               |    try { setExprs(document.getElementById('ex').value); }
               |    catch (e) { document.getElementById('err').textContent = String(e.message || e); return; }
               |    state.groupBy = Array.from(
               |      document.getElementById('gb').selectedOptions).map(o => o.value);
               |    state.splitBy = document.getElementById('sb').value;
               |    state.agg = document.getElementById('agg').value;
               |    state.aggCol = document.getElementById('aggc').value;
               |    if (state.agg !== 'count' && !state.aggCol) state.agg = 'count';
               |    state.filterCol = document.getElementById('fc').value;
               |    state.filterOp = document.getElementById('fop').value;
               |    state.filterVal = document.getElementById('fv').value;
               |    // 0 is as useless as a negative limit in a browse
               |    // grid (a silently empty table) — treat both as
               |    // "use the default", like the pre-fix || fallback
               |    const lim = parseInt(document.getElementById('lim').value);
               |    state.limit = isNaN(lim) || lim <= 0 ? 500 : lim;
               |    state.view = document.getElementById('vw').value;
               |    // new expression names must join the column selects —
               |    // rebuild, then restore EVERY control from state
               |    rebuildControls();
               |    render();
               |  };
               |}
               |// controls() rebuilds the DOM with default values (empty
               |// group-by, agg=count, limit 500); without restoring from
               |// state the NEXT apply would read the reset DOM and silently
               |// wipe the user's prior configuration (advisor r13) — so
               |// every rebuild goes through here, never bare controls().
               |function syncControls(){
               |  const by = id => document.getElementById(id);
               |  // assigning a value whose option no longer exists (an
               |  // expression column the current apply just removed)
               |  // silently resets the select, and the NEXT apply would
               |  // persist that reset into state (advisor r14) — re-add
               |  // the user's choice as an explicit stale option instead
               |  const setSel = (id, val) => {
               |    const s = by(id); if (!s) return;
               |    s.value = val;
               |    if (val && s.value !== val) {
               |      const o = document.createElement('option');
               |      o.value = val; o.textContent = val + ' (stale)';
               |      s.appendChild(o); s.value = val;
               |      by('err').textContent = 'stale column kept: ' + val;
               |    }
               |  };
               |  const gb = by('gb');
               |  if (gb && gb.options)
               |    for (const o of gb.options)
               |      o.selected = state.groupBy.indexOf(o.value) >= 0;
               |  setSel('sb', state.splitBy);
               |  by('agg').value = state.agg;
               |  setSel('aggc', state.aggCol);
               |  setSel('fc', state.filterCol);
               |  by('fop').value = state.filterOp;
               |  by('fv').value = state.filterVal;
               |  by('lim').value = state.limit;
               |  by('vw').value = state.view;
               |}
               |function rebuildControls(){
               |  const exEl = document.getElementById('ex');
               |  const exText = exEl ? exEl.value : '';
               |  controls();
               |  syncControls();
               |  if (exText) document.getElementById('ex').value = exText;
               |}
               |async function tick(){
               |  const r = await fetch('/api/v1/table/$name');
               |  raw = await r.json();
               |  const cols = raw.length ? Object.keys(raw[0]) : [];
               |  if (cols.join() !== state.cols.join()) { state.cols = cols; rebuildControls(); }
               |  document.getElementById('n').textContent = raw.length + ' rows';
               |  render();
               |}
               |tick(); setInterval(tick, 2000);
               |</script>""".stripMargin)
        case _ => respond(ex, 404, """{"detail":"Table not found"}""")
      }
    })
    server.start()
    ws.start()
    for (vs <- viewServer; ms <- viewRefreshMillis)
      viewRefreshThread = Some(vs.startPeriodicRefresh(ms))
    this
  }

  def stop(): Unit = {
    viewRefreshThread.foreach(_.interrupt())
    viewRefreshThread = None
    ws.stop()
    server.stop(0)
  }
}

object Gateway {
  /** Published library version (surfaced in the OpenAPI document). */
  val Version = "0.3.0"

  /** Frames an SSE or WebSocket connection may fall behind before it is
    * dropped as a slow consumer. */
  private[server] val EgressQueueFrames = 1024

  private val detailMapper = new ObjectMapper()

  /** The `{"detail": …}` error body with `msg` JSON-escaped (quotes,
    * backslashes, control characters); a null message renders as
    * the string "null". */
  private[graft] def detailJson(msg: String): String =
    s"""{"detail":${detailMapper.writeValueAsString(String.valueOf(msg))}}"""

  /** The request contract's view of an exchange. */
  private[server] def view(ex: HttpExchange): RequestView =
    new RequestView(ex.getRequestURI.getRawQuery,
      name => Option(ex.getRequestHeaders.getFirst(name)))

  /** One WS/SSE egress frame `{"channel", "key"?, "data": row}` (key
    * only for dict-basket channels). */
  private[graft] def frameJson(channel: String, key: Option[String],
      r: org.apache.spark.sql.Row, schema: org.apache.spark.sql.types.StructType): Array[Byte] =
    JsonCodec.jsonBytes { g =>
      g.writeStartObject()
      g.writeStringField("channel", channel)
      key.foreach(g.writeStringField("key", _))
      g.writeFieldName("data")
      JsonCodec.writeRow(g, r, schema)
      g.writeEndObject()
    }

  /** Idempotent; must run before the first HttpServer is created in
    * the JVM (the JDK server reads it once at config class load). */
  private[server] def enableNoDelay(): Unit =
    if (System.getProperty("sun.net.httpserver.nodelay") == null)
      System.setProperty("sun.net.httpserver.nodelay", "true")
}
