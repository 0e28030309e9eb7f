package graft.server

import java.io.{DataInputStream, DataOutputStream, IOException}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.Base64
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper

import graft.streaming.ChannelRuntime

/** S6/K8 — true WebSocket endpoint (RFC 6455, hand-rolled on a
  * `ServerSocket`: the JDK http server cannot hijack connections for
  * an Upgrade) implementing the reference's single-socket multiplexing
  * protocol (websocket.py:234-269; frame shape :183-225):
  *
  *   client → server: {"action":"subscribe"|"unsubscribe"|"send",
  *                     "channel":c, ["key":k,] ["data":obj|[obj…]]}
  *   server → client: {"channel":c, ["key":"k",] "data":{row}}  per tick row
  *                    {"channel":"heartbeat","data":"PING"}     every second
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
  *  - the handshake passes the gateway's auth gate ([[RequestContract]])
  *    or gets its 401/403 and no upgrade; send decodes and validates
  *    rows with the REST path's decoder (S5), a rejected send is logged
  *    and the connection stays up; per-identity row filtering (X13)
  *    holds on egress frames;
  *  - JSON heartbeat frames (not ws pings) every interval, matching
  *    handle_heartbeat_connection (websocket.py:162-181).
  *
  * Demand control: the runtime listener is attached per connection and
  * detached on close — with no sockets connected the streaming side
  * pays nothing (make_active/make_passive analogue).
  */
final class WebSocketServer(
    runtime: ChannelRuntime,
    /** The gateway's auth gate, send decoder and X13 row filter. */
    contract: RequestContract,
    port: Int = 0) {
  import WebSocketServer.PingMillis

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
      new java.util.concurrent.LinkedBlockingQueue[(Int, Array[Byte])](Gateway.EgressQueueFrames)
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
        val schema = runtime.schemaOf(ch)
        val keyIdx = basket.map(schema.fieldNames.indexOf(_)).getOrElse(-1)
        contract.visible(ch, schema, identity, rows).foreach { r =>
          val rowKey = if (keyIdx >= 0 && !r.isNullAt(keyIdx)) Some(String.valueOf(r.get(keyIdx))) else None
          val subscribed = wantAll || (basket.isDefined && rowKey.exists(k => subs.contains((ch, Some(k)))))
          if (subscribed)
            sendRaw(0x1, Gateway.frameJson(ch, if (basket.isDefined) rowKey else None, r, schema))
        }
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
      case (_, key) =>
        action match {
          case "subscribe"   => conn.subs.add((channel, key))
          case "unsubscribe" => conn.subs.remove((channel, key))
          case "send" =>
            try runtime.send(channel, contract.sendRows(channel, node.get("data"), key, conn.identity))
            catch { // reference websocket.py: a failed send is logged, the socket stays up
              case NonFatal(e) =>
                Console.err.println(s"[graft] websocket send to '$channel' rejected: ${e.getMessage}")
            }
        }
    }
  }

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

  /** Read the upgrade request and put it through the gateway's auth
    * gate: 101 with the caller's identity on the connection, or the
    * gate's 401/403 (with its challenge) and no upgrade. Browser
    * clients can send cookies and a query string but not custom
    * headers (the reference's api_key_middleware_websocket_fix), so
    * every credential transport of the REST side works here too.
    */
  private def handshake(conn: Conn): Boolean = {
    val requestLine = readHeaderLine(conn.in)
    if (requestLine == null || !requestLine.startsWith("GET")) return false
    val headers = scala.collection.mutable.Map.empty[String, String]
    var line = readHeaderLine(conn.in)
    while (line != null && line.nonEmpty) {
      val idx = line.indexOf(':')
      if (idx > 0)
        headers(line.substring(0, idx).trim.toLowerCase(java.util.Locale.ROOT)) =
          line.substring(idx + 1).trim
      line = readHeaderLine(conn.in)
    }
    val wsKey = headers.getOrElse("sec-websocket-key", null)
    if (wsKey == null) return false
    // request line: GET <path>[?<query>] HTTP/1.1
    val target = requestLine.split(" ").lift(1).getOrElse("")
    val q = target.indexOf('?')
    val view = new RequestView(if (q < 0) null else target.substring(q + 1),
      name => headers.get(name.toLowerCase(java.util.Locale.ROOT)))
    contract.admit(view) match {
      case Left(refusal) =>
        val body = RequestContract.UnauthorizedBody.getBytes(StandardCharsets.UTF_8)
        conn.out.write(
          (s"HTTP/1.1 ${refusal.status} ${if (refusal.status == 401) "Unauthorized" else "Forbidden"}\r\n" +
            refusal.challenge.fold("")(c => s"WWW-Authenticate: $c\r\n") +
            "Content-Type: application/json\r\n" +
            s"Content-Length: ${body.length}\r\nConnection: close\r\n\r\n")
            .getBytes(StandardCharsets.ISO_8859_1))
        conn.out.write(body)
        conn.out.flush()
        return false
      case Right(identity) => conn.identity = identity
    }
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
      PingMillis, PingMillis, TimeUnit.MILLISECONDS)
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

object WebSocketServer {
  /** Heartbeat frame interval (reference websocket.py:38). */
  private val PingMillis = 1000L
}
