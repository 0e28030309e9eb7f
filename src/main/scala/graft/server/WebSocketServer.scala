package graft.server

import java.io.{DataInputStream, DataOutputStream, IOException}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.Base64
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.streaming.ChannelRuntime

/** S6/K8 — true WebSocket endpoint (RFC 6455, hand-rolled on a
  * `ServerSocket`: the JDK http server cannot hijack connections for
  * an Upgrade) implementing the reference's single-socket multiplexing
  * protocol (websocket.py:234-269; frame shape :183-225):
  *
  *   client → server: {"action":"subscribe"|"unsubscribe"|"send",
  *                     "channel":c, ["key":k,] ["data":obj|[obj…]]}
  *   server → client: {"channel":c, ["key":"k",] "data":{row}}  per tick row
  *                    {"channel":"heartbeat","data":"PING"}     every pingMillis
  *
  * Reference semantics reproduced:
  *  - one connection multiplexes many channels; a per-connection
  *    subscription set decides fanout (websocket.py:366-378);
  *  - malformed/unknown action, channel, or key → message IGNORED
  *    (logged), connection stays up (websocket.py:255-300);
  *  - dict-basket channels address entries by "key": subscribe/
  *    unsubscribe without a key covers the whole basket
  *    (websocket.py:271-279), send REQUIRES a key (:281-283), and a
  *    key on a non-basket channel voids the message (:280-282);
  *  - send validates rows exactly like the REST path (S5) and ingests
  *    into the channel stream; per-identity row filtering (X13) holds
  *    on egress frames;
  *  - JSON heartbeat frames (not ws pings) every interval, matching
  *    handle_heartbeat_connection (websocket.py:162-181).
  *
  * Demand control: the runtime listener is attached per connection and
  * detached on close — with no sockets connected the streaming side
  * pays nothing (make_active/make_passive analogue).
  */
final class WebSocketServer(
    runtime: ChannelRuntime,
    authFilterFields: Map[String, String] = Map.empty,
    port: Int = 0,
    pingMillis: Long = 1000L,
    /** Auth-middleware identity from the handshake's (lowercased)
      * headers — the reference needed a dedicated websocket fix for
      * exactly this (middleware/hacks/api_key_middleware_websocket_fix:
      * browser WebSocket clients can send cookies but not custom
      * headers). The gateway supplies its session/Basic resolver; the
      * explicit `x-identity` header still wins (test/tooling path). */
    identityFromHeaders: Map[String, String] => Option[String] = _ => None) {

  private val mapper = new ObjectMapper()
  // bound lazily in start() — constructing a server must not leak a
  // listening socket that stop() never runs against
  @volatile private var server: ServerSocket = _
  private val conns = ConcurrentHashMap.newKeySet[Conn]()
  private val pinger = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "graft-ws-ping"); t.setDaemon(true); t
  }
  @volatile private var running = true

  def boundPort: Int = {
    require(server != null, "WebSocketServer not started")
    server.getLocalPort
  }

  /** One socket: reader thread + queued writer thread + subscriptions.
    * Writes NEVER happen on the caller's thread: the runtime's
    * micro-batch listener and the shared pinger only enqueue — a slow
    * or stalled client can't block the streaming query or starve other
    * connections (same decoupling as the SSE path). A client whose
    * outbound queue fills is evicted (slow-consumer policy) rather
    * than silently dropping frames.
    */
  private final class Conn(socket: Socket) {
    val in = new DataInputStream(socket.getInputStream)
    // buffered: the writer coalesces a drained batch of frames into
    // one flush (one syscall), instead of a syscall per write call
    val out = new DataOutputStream(
      new java.io.BufferedOutputStream(socket.getOutputStream, 64 * 1024))
    /** (channel, Some(keyString)) or (channel, None) = whole channel /
      * whole basket. */
    val subs = ConcurrentHashMap.newKeySet[(String, Option[String])]()
    @volatile var identity: Option[String] = None
    private val outbox =
      new java.util.concurrent.LinkedBlockingQueue[(Int, Array[Byte])](1024)
    private val writer = new Thread(() => {
      try {
        var open = true
        while (open) {
          // drain-and-flush-once: under a busy stream the queue holds
          // many per-row frames; flushing each one paid a syscall per
          // frame and capped a subscriber at ~1.1k frames/s
          // (SCALE.md "Measured EXTERNAL ceiling") — one flush per drained batch lifts that
          // without changing frame order or the poison-pill contract
          var item = outbox.take()
          var wrote = false
          while (item != null && item._1 >= 0) {
            writeFrame(out, item._1, item._2)
            wrote = true
            item = outbox.poll()
          }
          if (wrote) out.flush()
          if (item != null && item._1 < 0) open = false // poison pill
        }
        // graceful path: every queued frame (incl. the close echo) has
        // been written — NOW the socket may close
        try socket.close() catch { case _: IOException => () }
      } catch { case _: Exception => closeAbrupt() }
    }, "graft-ws-writer")
    writer.setDaemon(true)
    writer.start()

    val listener: (String, Seq[org.apache.spark.sql.Row]) => Unit = (ch, rows) =>
      runtime.specs.get(ch).foreach { spec =>
        val basket = spec.basketKey
        val wantAll = subs.contains((ch, None))
        val schema = runtime.runtimeSchema(spec)
        val keyIdx = basket.map(schema.fieldNames.indexOf(_)).getOrElse(-1)
        // the auth field's index, once per batch
        val authIdx = authFilterFields.get(ch).map(schema.fieldNames.indexOf(_))
        rows.foreach { r =>
          val rowKey = if (keyIdx >= 0 && !r.isNullAt(keyIdx)) Some(String.valueOf(r.get(keyIdx))) else None
          val subscribed = wantAll || (basket.isDefined && rowKey.exists(k => subs.contains((ch, Some(k)))))
          if (subscribed && identityAllows(authIdx, r))
            sendRaw(0x1, Gateway.frameJson(ch, if (basket.isDefined) rowKey else None, r, schema))
        }
      }

    /** X13 on egress: `authIdx` is the channel's auth field index
      * (None = unfiltered channel). */
    private def identityAllows(authIdx: Option[Int], r: org.apache.spark.sql.Row): Boolean =
      authIdx match {
        case Some(i) =>
          identity.exists(id => i >= 0 && !r.isNullAt(i) && String.valueOf(r.get(i)) == id)
        case None => true
      }

    def sendText(s: String): Unit = sendRaw(0x1, s.getBytes(StandardCharsets.UTF_8))

    def sendRaw(opcode: Int, payload: Array[Byte]): Unit =
      if (!outbox.offer((opcode, payload))) closeAbrupt() // slow consumer: evict

    /** Graceful teardown: the poison pill rides BEHIND already-queued
      * frames — notably the RFC 6455 close-frame echo enqueued by
      * `readMessage` — so the writer drains them before it closes the
      * socket (clearing first would race the writer and drop the close
      * handshake). A peer that stalls mid-drain is bounded by the
      * scheduled force-close below, not trusted to read forever.
      */
    def close(): Unit = {
      conns.remove(this)
      runtime.removeListener(listener)
      if (!outbox.offer((-1, Array.emptyByteArray))) closeAbrupt()
      else
        try pinger.schedule(new Runnable {
          def run(): Unit = try socket.close() catch { case _: IOException => () }
        }, 5, java.util.concurrent.TimeUnit.SECONDS)
        catch { // pinger already stopped (server shutdown): writer still
                // drains and closes; nothing left to bound it with
          case _: java.util.concurrent.RejectedExecutionException => ()
        }
    }

    /** Abrupt teardown (slow-consumer eviction, writer I/O failure):
      * queued frames are dropped and the socket closes immediately —
      * no close handshake is owed to a peer that stopped reading.
      */
    def closeAbrupt(): Unit = {
      conns.remove(this)
      runtime.removeListener(listener)
      outbox.clear()
      outbox.offer((-1, Array.emptyByteArray)) // release the writer thread
      try socket.close() catch { case _: IOException => () }
    }
  }

  // ---- protocol handling --------------------------------------------------

  private def handleMessage(conn: Conn, text: String): Unit = {
    val node = try mapper.readTree(text) catch { case NonFatal(_) => return }
    if (node == null || !node.isObject) return
    val action = Option(node.get("action")).map(_.asText()).orNull
    if (action == null || !Set("subscribe", "unsubscribe", "send").contains(action)) return
    val channel = Option(node.get("channel")).map(_.asText()).filter(_.nonEmpty).orNull
    if (channel == null) return
    val spec = runtime.specs.getOrElse(channel, return)
    val rawKey = Option(node.get("key")).filterNot(_.isNull).map(_.asText())
    // a key outside a declared basket key set voids the message
    // (reference: key type-adapter validation failure → ignored)
    if (spec.basketKeys.exists(ks => rawKey.exists(k => !ks.contains(k)))) return

    (spec.basketKey, rawKey) match {
      case (None, Some(_)) => () // key on a non-basket channel: ignore message
      case (Some(_), None) =>
        action match {
          case "subscribe"   => conn.subs.add((channel, None))
          case "unsubscribe" =>
            // whole-basket unsubscribe clears the wildcard AND per-key subs
            conn.subs.removeIf(s => s._1 == channel)
          case "send" => () // basket send requires a key: ignore
        }
      case (basket, key) =>
        action match {
          case "subscribe"   => conn.subs.add((channel, key))
          case "unsubscribe" => conn.subs.remove((channel, key))
          case "send" =>
            val data = node.get("data")
            if (data == null || data.isNull) return
            val objs: Seq[JsonNode] =
              if (data.isArray) data.elements().asScala.toSeq else Seq(data)
            val withKey = basket.zip(key) // Some((col, k)) on basket channels
            try {
              val maps = objs.map { o =>
                val m = jsonToMap(o)
                withKey match {
                  case Some((col, k)) => m + (col -> k)
                  case None           => m
                }
              }
              // X13 write validation, same rule as the REST send path
              authFilterFields.get(channel).foreach { field =>
                conn.identity match {
                  case Some(id) if maps.forall(_.get(field).exists(v => String.valueOf(v) == id)) => ()
                  case _ => throw new IllegalArgumentException(s"identity mismatch on '$field'")
                }
              }
              runtime.send(channel, maps)
            } catch {
              case NonFatal(_) => () // reference: send errors logged + ignored
            }
        }
    }
  }

  private def jsonToMap(node: JsonNode): Map[String, Any] =
    node.properties().asScala.map { e =>
      val v = e.getValue
      val value: Any =
        if (v.isNull) null
        else if (v.isIntegralNumber) v.asLong()
        else if (v.isFloatingPointNumber) v.asDouble()
        else if (v.isBoolean) v.asBoolean()
        else v.asText()
      e.getKey -> value
    }.toMap

  // ---- RFC 6455 wire ------------------------------------------------------

  /** Read one CRLF-terminated header line byte-by-byte — a buffered
    * reader would read ahead past the header terminator and swallow
    * frame bytes a client pipelined in the same segment.
    */
  private def readHeaderLine(in: DataInputStream): String = {
    val sb = new java.lang.StringBuilder()
    var b = in.read()
    while (b >= 0 && b != '\n') {
      if (b != '\r') sb.append(b.toChar)
      b = in.read()
    }
    if (b < 0 && sb.length == 0) null else sb.toString
  }

  private def handshake(conn: Conn): Boolean = {
    val requestLine = readHeaderLine(conn.in)
    if (requestLine == null || !requestLine.startsWith("GET")) return false
    var wsKey: String = null
    val headers = scala.collection.mutable.Map.empty[String, String]
    var line = readHeaderLine(conn.in)
    while (line != null && line.nonEmpty) {
      val idx = line.indexOf(':')
      if (idx > 0) {
        val name = line.substring(0, idx).trim.toLowerCase(java.util.Locale.ROOT)
        val value = line.substring(idx + 1).trim
        headers(name) = value
        if (name == "sec-websocket-key") wsKey = value
        if (name == "x-identity") conn.identity = Some(value)
      }
      line = readHeaderLine(conn.in)
    }
    if (wsKey == null) return false
    if (conn.identity.isEmpty) conn.identity = identityFromHeaders(headers.toMap)
    val accept = Base64.getEncoder.encodeToString(
      MessageDigest.getInstance("SHA-1").digest(
        (wsKey + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11").getBytes(StandardCharsets.US_ASCII)))
    conn.out.write(
      ("HTTP/1.1 101 Switching Protocols\r\n" +
        "Upgrade: websocket\r\n" +
        "Connection: Upgrade\r\n" +
        s"Sec-WebSocket-Accept: $accept\r\n\r\n").getBytes(StandardCharsets.ISO_8859_1))
    conn.out.flush()
    true
  }

  /** Read one complete (possibly fragmented) DATA message, answering
    * interleaved control frames inline (ping→pong; RFC 6455 allows
    * controls between fragments, and dropping the fragment buffer for
    * them would lose the client's message). Returns None on EOF or
    * close.
    */
  private def readMessage(conn: Conn): Option[(Int, Array[Byte])] = {
    val buf = new java.io.ByteArrayOutputStream()
    var firstOpcode = -1
    var done = false
    while (!done) {
      val b0 = conn.in.read()
      if (b0 < 0) return None
      val fin = (b0 & 0x80) != 0
      val opcode = b0 & 0x0f
      val b1 = conn.in.read()
      if (b1 < 0) return None
      val masked = (b1 & 0x80) != 0
      var len: Long = (b1 & 0x7f).toLong
      if (len == 126) len = ((conn.in.read() & 0xff) << 8) | (conn.in.read() & 0xff)
      else if (len == 127) len = conn.in.readLong()
      if (len > 16 * 1024 * 1024) return None // sanity bound
      val mask = if (masked) { val m = new Array[Byte](4); conn.in.readFully(m); m } else null
      val payload = new Array[Byte](len.toInt)
      conn.in.readFully(payload)
      if (masked) {
        var i = 0
        while (i < payload.length) { payload(i) = (payload(i) ^ mask(i % 4)).toByte; i += 1 }
      }
      if (opcode >= 8) {
        // control frame — may interleave with fragments; never touches buf
        opcode match {
          case 0x8 => conn.sendRaw(0x8, payload); return None // close: echo + drop
          case 0x9 => conn.sendRaw(0xA, payload) // ping -> pong
          case _   => () // pong / reserved: ignore
        }
      } else {
        if (opcode != 0) firstOpcode = opcode
        buf.write(payload)
        done = fin
      }
    }
    Some((firstOpcode, buf.toByteArray))
  }

  /** Writes one frame WITHOUT flushing — the writer thread flushes
    * once per drained batch (handshake responses flush explicitly). */
  private def writeFrame(out: DataOutputStream, opcode: Int, payload: Array[Byte]): Unit = {
    out.write(0x80 | opcode)
    val n = payload.length
    if (n < 126) out.write(n)
    else if (n < 65536) { out.write(126); out.write((n >> 8) & 0xff); out.write(n & 0xff) }
    else { out.write(127); out.writeLong(n.toLong) }
    out.write(payload)
  }

  private def serve(socket: Socket): Unit = {
    // small per-tick frames + delayed ACK = 40 ms floors without this
    try socket.setTcpNoDelay(true) catch { case _: IOException => () }
    val conn = new Conn(socket)
    try {
      if (!handshake(conn)) { socket.close(); return }
      conns.add(conn)
      runtime.addListener(conn.listener)
      var open = true
      while (open) {
        readMessage(conn) match {
          case None => open = false // EOF or close frame
          case Some((0x1, payload)) =>
            handleMessage(conn, new String(payload, StandardCharsets.UTF_8))
          case Some(_) => () // binary etc: ignore
        }
      }
    } catch {
      case _: IOException => ()
      case NonFatal(_) => ()
    } finally conn.close()
  }

  def start(): WebSocketServer = {
    server = new ServerSocket(port)
    val acceptor = new Thread(() => {
      while (running) {
        try {
          val s = server.accept()
          val t = new Thread(() => serve(s), "graft-ws-conn")
          t.setDaemon(true)
          t.start()
        } catch { case _: IOException => () /* closed */ }
      }
    }, "graft-ws-accept")
    acceptor.setDaemon(true)
    acceptor.start()
    pinger.scheduleAtFixedRate(
      () => conns.forEach(_.sendText("""{"channel": "heartbeat", "data": "PING"}""")),
      pingMillis, pingMillis, TimeUnit.MILLISECONDS)
    this
  }

  def stop(): Unit = {
    running = false
    conns.forEach(_.close()) // graceful first: pinger still live to bound drains
    // shutdown(), NOT shutdownNow(): close() just scheduled +5s
    // force-close tasks on this executor to bound stalled-writer
    // drains; shutdownNow would discard them and leak the blocked
    // writer thread + socket. Default policy runs existing delayed
    // tasks after shutdown(); periodic pings stop immediately.
    pinger.shutdown()
    if (server != null)
      try server.close() catch { case _: IOException => () }
  }
}
