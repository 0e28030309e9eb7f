package graft.client

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse, WebSocket}
import java.nio.charset.StandardCharsets
import java.time.Duration
import java.util.concurrent.{CompletionStage, CountDownLatch, LinkedBlockingQueue, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.state.{FilterBy, StateQuery}
import graft.streaming.JsonCodec

/** Typed errors mirroring the reference client's exception family
  * (client/client.py + utils: `ServerRouteNotFoundException` on 404,
  * `ServerUnprocessableException` on 422, `ServerUnknownException`
  * otherwise, `ServerRouteNotMountedException` for a client-side miss
  * against the discovered OpenAPI route set).
  */
sealed abstract class GatewayClientException(msg: String) extends RuntimeException(msg)
final class ServerRouteNotFoundException(detail: String) extends GatewayClientException(detail)
final class ServerUnprocessableException(detail: String) extends GatewayClientException(detail)
final class ServerUnknownException(detail: String) extends GatewayClientException(detail)
final class ServerRouteNotMountedException(detail: String) extends GatewayClientException(detail)

/** Client connection config — the analogue of the reference's
  * `GatewayClientConfig` (client.py:229-241): protocol/host/port/
  * api_route plus the two auth paths (api_key as `token` param,
  * bearer token as an Authorization header). Two graft-specific
  * extras: `wsPort` (this gateway serves RFC 6455 on a companion
  * port, not an Upgrade route) and `identity`/`basicAuth` matching
  * the server's simple-auth and x-identity surfaces.
  */
final case class GatewayClientConfig(
    protocol: String = "http",
    host: String = "localhost",
    port: Int = 8000,
    apiRoute: String = "/api/v1",
    apiKey: Option[String] = None,
    bearerToken: Option[String] = None,
    basicAuth: Option[(String, String)] = None,
    /** X13 identity header (`x-identity`) for tooling/tests; real
      * deployments derive identity from the auth middleware. */
    identity: Option[String] = None,
    /** WebSocket port (Gateway.wsPort). None = streaming disabled. */
    wsPort: Option[Int] = None) {

  /** Credential headers of every request, REST and WebSocket alike;
    * `apiKey` rides separately as the `token` query parameter. */
  private[client] def authHeaders: Seq[(String, String)] =
    bearerToken.map(t => "Authorization" -> s"Bearer $t").toSeq ++
      basicAuth.map { case (u, p) =>
        "Authorization" -> ("Basic " + java.util.Base64.getEncoder
          .encodeToString(s"$u:$p".getBytes(StandardCharsets.UTF_8)))
      } ++
      identity.map("x-identity" -> _)

  def hostUrl: String = {
    val h =
      if (host.startsWith("http://") || host.startsWith("https://")) host
      else s"$protocol://$host"
    val base = h.stripSuffix("/")
    if (port == 80 || port == 443) base else s"$base:$port"
  }
}

/** Response wrapper — the analogue of the reference's
  * `ResponseWrapper` (client.py:300-380): holds the raw JSON and
  * shapes it on demand (`as_struct`/`as_pandas_df` → here `rows`
  * maps and a Spark `DataFrame`, the JVM-native frame type).
  */
final class GatewayResponse private[client] (val json: JsonNode, mapper: ObjectMapper) {

  /** Raw JSON text (the reference's ReturnType.Raw). */
  def raw: String = mapper.writeValueAsString(json)

  /** Rows as maps; a single-object response is list-wrapped like the
    * reference's response shaping (one row → [row], empty → []). */
  def rows: Seq[Map[String, Any]] =
    if (json.isArray) json.elements().asScala.map(JsonCodec.jsonValue(_).asInstanceOf[Map[String, Any]]).toSeq
    else if (json.isObject) Seq(JsonCodec.jsonValue(json).asInstanceOf[Map[String, Any]])
    else Nil

  def isEmpty: Boolean = json.isArray && json.isEmpty
  def size: Int = if (json.isArray) json.size() else 1

  /** Shape into a Spark DataFrame (the reference's
    * `as_pandas_df`/`as_polars_df` analog: schema inferred from the
    * JSON, driver-side — sized for interactive result sets, not bulk
    * transfer, exactly like the reference's client-side frames). */
  def toDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val lines =
      if (json.isArray) json.elements().asScala.map(mapper.writeValueAsString).toSeq
      else Seq(mapper.writeValueAsString(json))
    spark.read.json(lines.toDS())
  }

  override def toString: String = raw
}

/** Gateway REST + WebSocket client — the Scala analogue of the
  * reference's `GatewayClient` (`BaseGatewayClient` +
  * `SyncGatewayClientMixin`, client/client.py:397-940):
  *
  *  - `last/next/state/send/lookup/controls` verbs with the reference's
  *    response shaping (list-wrapped rows, `[]` on empty) and status
  *    mapping (404 → [[ServerRouteNotFoundException]], 422 →
  *    [[ServerUnprocessableException]], else [[ServerUnknownException]]);
  *  - route discovery from `/openapi.json` and client-side
  *    `ServerRouteNotMountedException` on a verb/channel pair the
  *    server never mounted (client.py:194-206 `_raiseIfNotMounted`);
  *  - basket `{key}` variants of last/next/send (client.py routes with
  *    `{key}`);
  *  - `state` takes a typed [[graft.state.StateQuery]], serialized to
  *    the server's `query=` JSON parameter (utils/web/query.py shape);
  *  - `connect()` opens the multiplexed WebSocket and returns a
  *    [[GatewayStream]] with `subscribe/unsubscribe/publish` and a
  *    blocking message iterator (client.py:617-700 stream plumbing,
  *    minus asyncio — a JDK `WebSocket` + blocking queue is the
  *    synchronous mixin's semantics).
  *
  * Auth: `apiKey` rides as the `token` query parameter (reference
  * `_buildroute`), `bearerToken` as `Authorization: Bearer`,
  * `basicAuth` as HTTP Basic (this gateway's simple-auth), and the
  * explicit `identity` as `x-identity` — on REST calls and on the
  * WebSocket handshake alike.
  */
final class GatewayClient(val config: GatewayClientConfig) {

  def this() = this(GatewayClientConfig())

  private val mapper = new ObjectMapper()
  private val http = HttpClient.newBuilder()
    .followRedirects(HttpClient.Redirect.NORMAL)
    .build()

  val DefaultTimeout: Duration = Duration.ofSeconds(10)

  // ---- route discovery (client.py:477-510 `_initialize`) -----------------

  @volatile private var mountedApis: Option[Map[String, Set[String]]] = None

  /** Fetch `/openapi.json` and index mounted channels per verb group.
    * Basket `{key}` and lookup `/{id}` path parameters collapse onto
    * the channel name, like the reference's parser.
    */
  private def initialize(): Map[String, Set[String]] = mountedApis.getOrElse {
    val spec = openApiSpec
    val groups = Seq("controls", "last", "lookup", "next", "send", "state", "stream")
    val found = scala.collection.mutable.Map.empty[String, Set[String]]
    groups.foreach(found(_) = Set.empty)
    val paths = Option(spec.get("paths")).toSeq.flatMap(_.properties().asScala.map(_.getKey))
    paths.foreach { p =>
      val path = p.stripPrefix(config.apiRoute)
      groups.foreach { g =>
        val prefix = s"/$g/"
        if (path.startsWith(prefix)) {
          val key = path.stripPrefix(prefix)
            .replace("/{id}", "").replace("/{key}", "").replace("{key}", "")
          if (key.nonEmpty) found(g) += key
        }
      }
    }
    val m = found.toMap
    mountedApis = Some(m)
    m
  }

  /** The server's OpenAPI document (client.py `openapi_spec`). */
  def openApiSpec: JsonNode = {
    val url = s"${config.hostUrl}/openapi.json${config.apiKey.map(k => s"?token=$k").getOrElse("")}"
    val resp = http.send(baseRequest(url).GET().build(), HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() != 200)
      throw new ServerUnknownException(s"${resp.statusCode()}: openapi.json unavailable")
    mapper.readTree(resp.body())
  }

  private def raiseIfNotMounted(group: String, field: String): Unit =
    if (field.nonEmpty) {
      val apis = initialize()
      if (!apis.getOrElse(group, Set.empty).contains(field))
        throw new ServerRouteNotMountedException(s"Route not mounted in group $group: $field")
    }

  // ---- request plumbing ---------------------------------------------------

  private def baseRequest(url: String): HttpRequest.Builder = {
    val b = HttpRequest.newBuilder(URI.create(url))
    config.authHeaders.foreach { case (k, v) => b.header(k, v) }
    b
  }

  private def buildUrl(route: String, params: Map[String, String]): String = {
    val all = params ++ config.apiKey.map("token" -> _)
    val qs =
      if (all.isEmpty) ""
      else "?" + all.map { case (k, v) =>
        s"$k=${java.net.URLEncoder.encode(v, "UTF-8")}"
      }.mkString("&")
    s"${config.hostUrl}${config.apiRoute}/$route$qs"
  }

  /** Status mapping of `_handle_response` (client.py:540-566). */
  private def handleResponse(resp: HttpResponse[String]): GatewayResponse = {
    val node = try mapper.readTree(resp.body()) catch {
      case NonFatal(e) => mapper.createObjectNode().put("detail", String.valueOf(e.getMessage))
    }
    def detail: String =
      Option(node.get("detail")).map(_.asText()).getOrElse(resp.body())
    resp.statusCode() match {
      case 200 => new GatewayResponse(node, mapper)
      case 404 => throw new ServerRouteNotFoundException(detail)
      case 422 => throw new ServerUnprocessableException(detail)
      case c   => throw new ServerUnknownException(s"$c: $detail")
    }
  }

  private def get(route: String, params: Map[String, String] = Map.empty,
      timeout: Duration = DefaultTimeout): GatewayResponse =
    handleResponse(http.send(
      baseRequest(buildUrl(route, params)).timeout(timeout).GET().build(),
      HttpResponse.BodyHandlers.ofString()))

  private def post(route: String, body: String,
      timeout: Duration = DefaultTimeout): GatewayResponse =
    handleResponse(http.send(
      baseRequest(buildUrl(route, Map.empty)).timeout(timeout)
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString()))

  // ---- verbs (client.py:818-940 sync mixin) -------------------------------

  /** GET /controls/{field} (POST for shutdown — client.py:825-828). */
  def controls(field: String): GatewayResponse = {
    raiseIfNotMounted("controls", field)
    if (field == "shutdown") post(s"controls/$field", "{}")
    else get(s"controls/$field")
  }

  /** GET /last/{channel} — whole channel (basket channels answer one
    * row per key, key-sorted). */
  def last(channel: String): GatewayResponse = {
    raiseIfNotMounted("last", channel)
    get(s"last/$channel")
  }

  /** GET /last/{channel}/{key} — one basket entry. */
  def last(channel: String, key: String): GatewayResponse = {
    raiseIfNotMounted("last", channel)
    get(s"last/$channel/$key")
  }

  /** GET /next/{channel} — blocks server-side for the next tick. */
  def next(channel: String, timeout: Duration = Duration.ofSeconds(35)): GatewayResponse = {
    raiseIfNotMounted("next", channel)
    get(s"next/$channel", timeout = timeout)
  }

  /** GET /next/{channel}/{key} — next tick carrying this basket key. */
  def nextKey(channel: String, key: String,
      timeout: Duration = Duration.ofSeconds(35)): GatewayResponse = {
    raiseIfNotMounted("next", channel)
    get(s"next/$channel/$key", timeout = timeout)
  }

  /** GET /state/{channel}?query=… with a typed [[StateQuery]]
    * serialized to the reference's filter JSON (query.py shape). */
  def state(channel: String, query: StateQuery = StateQuery()): GatewayResponse = {
    raiseIfNotMounted("state", channel)
    val params =
      if (query.filters.isEmpty) Map.empty[String, String]
      else Map("query" -> queryJson(query))
    get(s"state/$channel", params)
  }

  /** GET /lookup/{channel}/{id} — single row or 404. */
  def lookup(channel: String, id: String): GatewayResponse = {
    raiseIfNotMounted("lookup", channel)
    get(s"lookup/$channel/$id")
  }

  /** POST /send/{channel} — one row. */
  def send(channel: String, data: Map[String, Any]): GatewayResponse =
    sendMany(channel, Seq(data))

  /** POST /send/{channel} — list of rows (client.py send with list). */
  def sendMany(channel: String, data: Seq[Map[String, Any]]): GatewayResponse = {
    raiseIfNotMounted("send", channel)
    post(s"send/$channel", JsonCodec.jsonText(JsonCodec.writeAny(_, data)))
  }

  /** POST /send/{channel}/{key} — basket-key send: the path key is
    * injected as the basket key column server-side. */
  def send(channel: String, key: String, data: Map[String, Any]): GatewayResponse = {
    raiseIfNotMounted("send", channel)
    post(s"send/$channel/$key", JsonCodec.jsonText(JsonCodec.writeAny(_, data)))
  }

  /** Channel names mounted under a verb group (GET /{group}/). */
  def availableChannels(group: String): Seq[String] =
    get(s"$group/").json.elements().asScala.map(_.asText()).toSeq

  // ---- WebSocket streaming (client.py:617-700, sync mixin :903-940) -------

  /** Open the multiplexed WebSocket. `channels` seed subscriptions
    * ((name, None) = whole channel / whole basket, (name, Some(key)) =
    * one basket entry — the reference's `(channel, key)` tuples).
    * `connectTimeoutMillis` retries the handshake with exponential
    * backoff until the server is reachable (the reference's
    * `connection_timeout`: 0 = fail immediately, positive = wait up
    * to that long; its -1 "wait forever" maps to `Long.MaxValue`).
    */
  def connect(channels: Seq[(String, Option[String])] = Nil,
      connectTimeoutMillis: Long = 10000): GatewayStream = {
    val wsPort = config.wsPort.getOrElse(
      throw new ServerUnknownException("wsPort not configured for streaming"))
    val deadline = System.nanoTime() + connectTimeoutMillis * 1000000L
    var backoff = 100L
    var stream: GatewayStream = null
    while (stream == null) {
      try stream = new GatewayStream(config, wsPort, mapper)
      catch {
        case NonFatal(e) =>
          if (System.nanoTime() + backoff * 1000000L > deadline)
            throw new ServerUnknownException(
              s"websocket connect failed after ${connectTimeoutMillis}ms: ${e.getMessage}")
          Thread.sleep(backoff)
          backoff = math.min(backoff * 2, 2000L)
      }
    }
    channels.foreach { case (ch, key) => stream.subscribe(ch, key) }
    stream
  }

  // ---- JSON helpers -------------------------------------------------------

  /** Serialize a [[StateQuery]] to the server's `query=` JSON. */
  def queryJson(q: StateQuery): String = JsonCodec.jsonText(JsonCodec.writeAny(_,
    Map("filters" -> q.filters.map { f =>
      Map("attr" -> f.attr, "by" -> (f.by match {
        case FilterBy.Value(v) => Map("value" -> v)
        case FilterBy.When(ts) => Map("when" -> ts)
        case FilterBy.Attr(a) => Map("attr" -> a)
      }), "where" -> f.where)
    })))
}

/** One multiplexed WebSocket session against the gateway's streaming
  * port — the synchronous face of the reference's stream plumbing
  * (client.py:617-700): `subscribe`/`unsubscribe`/`publish` enqueue
  * protocol messages, received frames land on a blocking queue read
  * with [[take]]/[[takeData]]/[[foreach]]. JDK `java.net.http.WebSocket`
  * supplies the RFC 6455 wire (masking, fragmentation, close).
  */
final class GatewayStream private[client] (
    config: GatewayClientConfig, wsPort: Int, mapper: ObjectMapper) {

  private val inbox = new LinkedBlockingQueue[JsonNode](4096)
  private val closed = new CountDownLatch(1)
  private val dropped = new java.util.concurrent.atomic.AtomicLong(0)

  /** Frames discarded because the consumer lagged >30 s behind a full
    * inbox. 0 in a healthy stream; a subscriber that sees this grow
    * is losing data and should drain faster or subscribe narrower. */
  def droppedFrames: Long = dropped.get()

  private val listener = new WebSocket.Listener {
    private val buf = new java.lang.StringBuilder()
    override def onText(ws: WebSocket, data: CharSequence,
        last: Boolean): CompletionStage[_] = {
      buf.append(data)
      if (last) {
        // Block (bounded) when the inbox is full: ws.request(1) is only
        // issued after the enqueue, so a slow consumer backpressures the
        // socket instead of silently losing frames (ADVICE r8). The
        // 30 s bound keeps an abandoned-consumer stream from wedging the
        // listener thread forever; frames dropped past it are COUNTED.
        try {
          val frame = mapper.readTree(buf.toString)
          if (!inbox.offer(frame, 30, TimeUnit.SECONDS)) dropped.incrementAndGet()
        } catch { case NonFatal(_) => () }
        buf.setLength(0)
      }
      ws.request(1)
      null
    }
    override def onClose(ws: WebSocket, statusCode: Int,
        reason: String): CompletionStage[_] = { closed.countDown(); null }
    override def onError(ws: WebSocket, error: Throwable): Unit =
      closed.countDown()
  }

  private val ws: WebSocket = {
    val wsHost =
      if (config.host.startsWith("http://")) config.host.stripPrefix("http://")
      else if (config.host.startsWith("https://")) config.host.stripPrefix("https://")
      else config.host
    val b = HttpClient.newHttpClient().newWebSocketBuilder()
    config.authHeaders.foreach { case (k, v) => b.header(k, v) }
    val token = config.apiKey.fold("")(k => "?token=" + java.net.URLEncoder.encode(k, "UTF-8"))
    b.buildAsync(URI.create(s"ws://$wsHost:$wsPort/api/v1/stream$token"), listener)
      .join()
  }

  private def sendAction(action: String, channel: String,
      key: Option[String], data: Option[Map[String, Any]]): Unit =
    ws.sendText(JsonCodec.jsonText(JsonCodec.writeAny(_, Map("action" -> action,
      "channel" -> channel) ++ key.map("key" -> _) ++ data.map("data" -> _))), true).join()

  /** Subscribe to a channel (whole basket) or one basket key. */
  def subscribe(channel: String, key: Option[String] = None): Unit =
    sendAction("subscribe", channel, key, None)

  /** Unsubscribe; without a key, clears wildcard AND per-key subs. */
  def unsubscribe(channel: String, key: Option[String] = None): Unit =
    sendAction("unsubscribe", channel, key, None)

  /** Publish rows into a channel through the socket (reference
    * `publish`; basket channels require a key). */
  def publish(channel: String, data: Map[String, Any],
      key: Option[String] = None): Unit =
    sendAction("send", channel, key, Some(data))

  /** Next frame (including heartbeats), or None on timeout/close. */
  def take(timeoutMillis: Long = 5000): Option[JsonNode] =
    Option(inbox.poll(timeoutMillis, TimeUnit.MILLISECONDS))

  /** Next DATA frame, skipping `{"channel":"heartbeat"}` pings. */
  def takeData(timeoutMillis: Long = 5000): Option[JsonNode] = {
    val deadline = System.nanoTime() + timeoutMillis * 1000000L
    var out: Option[JsonNode] = None
    var remaining = timeoutMillis
    while (out.isEmpty && remaining > 0) {
      take(remaining) match {
        case Some(n) if Option(n.get("channel")).exists(_.asText() == "heartbeat") => ()
        case other => return other
      }
      remaining = (deadline - System.nanoTime()) / 1000000L
    }
    out
  }

  /** Run `callback` for every data frame until `count` frames arrived
    * or the per-frame timeout lapses (reference stream(callback=…)). */
  def foreach(count: Int, timeoutMillis: Long = 5000)(callback: JsonNode => Unit): Int = {
    var n = 0
    while (n < count) {
      takeData(timeoutMillis) match {
        case Some(frame) => callback(frame); n += 1
        case None        => return n
      }
    }
    n
  }

  def close(): Unit = {
    try ws.sendClose(WebSocket.NORMAL_CLOSURE, "bye")
      .orTimeout(2, TimeUnit.SECONDS).join()
    catch { case NonFatal(_) => () }
    ws.abort()
  }
}
