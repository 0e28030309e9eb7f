package graft.perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, EOFException, IOException}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

/** Minimal HTTP/1.1 keep-alive client on one loopback socket. The load
  * generator owns its connections and threads, so their number is
  * fixed and none of the client's cost hides in a library pool.
  */
final class HttpConn(port: Int) {
  private var socket: Socket = _
  private var in: BufferedInputStream = _
  private var out: BufferedOutputStream = _
  connect()

  private def connect(): Unit = {
    socket = new Socket()
    socket.setTcpNoDelay(true)
    socket.connect(new InetSocketAddress("127.0.0.1", port), 5000)
    socket.setSoTimeout(60000)
    in = new BufferedInputStream(socket.getInputStream, 1 << 16)
    out = new BufferedOutputStream(socket.getOutputStream, 1 << 16)
  }

  /** Send one request and read the whole response: (status, body).
    * An I/O error reconnects once the call has failed, so the next
    * request starts on a fresh connection. */
  def request(method: String, path: String, body: Array[Byte] = null): (Int, Array[Byte]) =
    try {
      val head = new StringBuilder(128)
      head.append(method).append(' ').append(path).append(" HTTP/1.1\r\nHost: 127.0.0.1\r\n")
      if (body != null)
        head.append("Content-Type: application/json\r\nContent-Length: ")
          .append(body.length).append("\r\n")
      head.append("\r\n")
      out.write(head.toString.getBytes(ISO_8859_1))
      if (body != null) out.write(body)
      out.flush()
      readResponse()
    } catch {
      case e: IOException =>
        close()
        connect()
        throw e
    }

  private def readLine(): String = {
    val sb = new java.lang.StringBuilder()
    var b = in.read()
    while (b >= 0 && b != '\n') { if (b != '\r') sb.append(b.toChar); b = in.read() }
    if (b < 0) throw new EOFException("connection closed")
    sb.toString
  }

  private def readN(n: Int): Array[Byte] = {
    val a = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(a, off, n - off)
      if (r < 0) throw new EOFException("short body")
      off += r
    }
    a
  }

  private def readResponse(): (Int, Array[Byte]) = {
    val status = readLine().split(' ')(1).toInt
    var length = -1
    var chunked = false
    var line = readLine()
    while (line.nonEmpty) {
      val i = line.indexOf(':')
      if (i > 0) {
        val k = line.substring(0, i).trim.toLowerCase(java.util.Locale.ROOT)
        val v = line.substring(i + 1).trim
        if (k == "content-length") length = v.toInt
        if (k == "transfer-encoding" && v.toLowerCase(java.util.Locale.ROOT).contains("chunked"))
          chunked = true
      }
      line = readLine()
    }
    val body =
      if (chunked) {
        val acc = new java.io.ByteArrayOutputStream()
        var size = Integer.parseInt(readLine().trim.takeWhile(_ != ';'), 16)
        while (size > 0) {
          acc.write(readN(size)); readLine()
          size = Integer.parseInt(readLine().trim.takeWhile(_ != ';'), 16)
        }
        readLine()
        acc.toByteArray
      } else if (length >= 0) readN(length)
      else Array.emptyByteArray
    (status, body)
  }

  def close(): Unit = try socket.close() catch { case _: IOException => () }
}

/** Minimal RFC 6455 client: handshake, masked text frames out,
  * unmasked frames in. Used by exactly one reader thread.
  */
final class WsClient(port: Int) {
  private val socket = new Socket()
  socket.setTcpNoDelay(true)
  socket.connect(new InetSocketAddress("127.0.0.1", port), 5000)
  private val in = new DataInputStream(new BufferedInputStream(socket.getInputStream, 1 << 16))
  private val out = socket.getOutputStream
  private val rnd = new java.util.Random(port.toLong)

  locally {
    val key = java.util.Base64.getEncoder.encodeToString(
      Array.tabulate[Byte](16)(_ => rnd.nextInt(256).toByte))
    out.write((s"GET / HTTP/1.1\r\nHost: 127.0.0.1\r\nUpgrade: websocket\r\n" +
      s"Connection: Upgrade\r\nSec-WebSocket-Key: $key\r\nSec-WebSocket-Version: 13\r\n\r\n")
      .getBytes(ISO_8859_1))
    out.flush()
    val status = readHeaderLine()
    require(status != null && status.contains(" 101 "), s"websocket handshake refused: $status")
    var line = readHeaderLine()
    while (line != null && line.nonEmpty) line = readHeaderLine()
  }

  private def readHeaderLine(): String = {
    val sb = new java.lang.StringBuilder()
    var b = in.read()
    while (b >= 0 && b != '\n') { if (b != '\r') sb.append(b.toChar); b = in.read() }
    if (b < 0 && sb.length == 0) null else sb.toString
  }

  def sendText(s: String): Unit = synchronized {
    val payload = s.getBytes(UTF_8)
    val mask = Array.tabulate[Byte](4)(_ => rnd.nextInt(256).toByte)
    val frame = new java.io.ByteArrayOutputStream()
    frame.write(0x81)
    val n = payload.length
    if (n < 126) frame.write(0x80 | n)
    else if (n < 65536) { frame.write(0x80 | 126); frame.write(n >> 8); frame.write(n & 0xff) }
    else {
      frame.write(0x80 | 127)
      (7 to 0 by -1).foreach(i => frame.write(((n.toLong >> (8 * i)) & 0xff).toInt))
    }
    frame.write(mask)
    var i = 0
    while (i < n) { frame.write(payload(i) ^ mask(i % 4)); i += 1 }
    out.write(frame.toByteArray)
    out.flush()
  }

  /** Next complete text message, or None once the server has closed
    * the connection. Control frames are skipped. */
  def readText(): Option[Array[Byte]] =
    try {
      val msg = new java.io.ByteArrayOutputStream()
      var done = false
      var text = false
      while (!done) {
        val b0 = in.read()
        if (b0 < 0) return None
        val opcode = b0 & 0x0f
        val b1 = in.readUnsignedByte()
        var len = (b1 & 0x7f).toLong
        if (len == 126) len = in.readUnsignedShort().toLong
        else if (len == 127) len = in.readLong()
        val payload = new Array[Byte](len.toInt)
        in.readFully(payload)
        if (opcode == 0x8) return None
        if (opcode < 8) {
          if (opcode == 0x1) text = true
          msg.write(payload)
          done = (b0 & 0x80) != 0
        }
      }
      if (text) Some(msg.toByteArray) else readText()
    } catch { case _: IOException => None }

  def close(): Unit = try socket.close() catch { case _: IOException => () }
}
