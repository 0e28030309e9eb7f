package graft

import java.net.URI
import java.net.http.{HttpClient, WebSocket}
import java.nio.file.Files
import java.util.concurrent.{CompletionStage, CountDownLatch, LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.ChannelSpec
import graft.server.Gateway
import graft.streaming.ChannelRuntime

/** S6 e2e: one WebSocket connection multiplexing channels with the
  * reference's subscribe/unsubscribe/send protocol — mirrors
  * tests/server/web/test_webserver.py:656 (subscribe → tick → frame;
  * unsubscribe → silence; send over the socket validated like S5;
  * dict-basket key addressing).
  */
class WebSocketSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private val schema = StructType(Seq(
    StructField("id", StringType),
    StructField("timestamp", TimestampType),
    StructField("x", LongType),
    StructField("owner", StringType),
    StructField("tags", ArrayType(StringType))))

  private val basketSchema = StructType(Seq(
    StructField("id", StringType),
    StructField("timestamp", TimestampType),
    StructField("sym", StringType),
    StructField("px", DoubleType)))

  /** Collects complete text messages; heartbeats separated out. */
  private final class Client(uri: String, headers: Map[String, String] = Map.empty)
      extends WebSocket.Listener {
    val data = new LinkedBlockingQueue[com.fasterxml.jackson.databind.JsonNode]
    val heartbeats = new LinkedBlockingQueue[String]
    private val sb = new StringBuilder
    private val opened = new CountDownLatch(1)
    val ws: WebSocket = {
      val b = HttpClient.newHttpClient().newWebSocketBuilder()
      headers.foreach { case (k, v) => b.header(k, v) }
      b.buildAsync(URI.create(uri), this).get(10, TimeUnit.SECONDS)
    }
    opened.countDown()

    override def onText(w: WebSocket, t: CharSequence, last: Boolean): CompletionStage[_] = {
      sb.append(t)
      if (last) {
        val node = mapper.readTree(sb.toString); sb.clear()
        if (node.get("channel").asText() == "heartbeat") heartbeats.offer(node.get("data").asText())
        else data.offer(node)
      }
      w.request(1)
      null
    }

    def send(json: String): Unit = ws.sendText(json, true).get(10, TimeUnit.SECONDS)
    def nextData(seconds: Long = 10): com.fasterxml.jackson.databind.JsonNode =
      data.poll(seconds, TimeUnit.SECONDS)
    def close(): Unit =
      try ws.sendClose(WebSocket.NORMAL_CLOSURE, "done").get(5, TimeUnit.SECONDS)
      catch { case _: Throwable => ws.abort() }
  }

  /** Status of a refused handshake (the JDK client fails the upgrade). */
  private def refusedWith(uri: String, headers: Map[String, String] = Map.empty): Int =
    try { new Client(uri, headers).close(); 101 }
    catch {
      case e: java.util.concurrent.ExecutionException =>
        e.getCause.asInstanceOf[java.net.http.WebSocketHandshakeException].getResponse.statusCode()
    }

  private def withGateway(mkGateway: ChannelRuntime => Gateway = new Gateway(_, 0))(
      f: (Gateway, ChannelRuntime) => Unit): Unit = {
    val rt = new ChannelRuntime(spark,
      Map(
        "example" -> ChannelSpec("example", schema, stateKeyby = Seq("owner")),
        "basket" -> ChannelSpec("basket", basketSchema, basketKey = Some("sym"))),
      Some(Files.createTempDirectory("graft-ws-ckpt").toString))
    rt.start()
    val gw = mkGateway(rt).start()
    try f(gw, rt)
    finally { gw.stop(); rt.stop() }
  }

  test("subscribe → tick → frame; unsubscribe → silence; heartbeat flows") {
    withGateway() { (gw, rt) =>
      val c = new Client(s"ws://127.0.0.1:${gw.wsPort}/api/v1/ws")
      try {
        c.send("""{"action":"subscribe","channel":"example"}""")
        // allow the subscription to land before producing the tick
        assert(c.heartbeats.poll(5, TimeUnit.SECONDS) === "PING")
        rt.send("example", Seq(Map("x" -> 41L, "owner" -> "alice")))
        rt.processAllAvailable()
        val frame = c.nextData()
        assert(frame != null, "expected a data frame after subscribe")
        assert(frame.get("channel").asText() === "example")
        assert(frame.get("data").get("x").asLong() === 41L)
        assert(!frame.has("key")) // non-basket frames carry no key

        c.send("""{"action":"unsubscribe","channel":"example"}""")
        // drain the unsubscribe race window, then tick again
        Thread.sleep(300)
        c.data.clear()
        rt.send("example", Seq(Map("x" -> 42L, "owner" -> "alice")))
        rt.processAllAvailable()
        assert(c.nextData(2) === null, "unsubscribed connection must get no frames")
      } finally c.close()
    }
  }

  test("send over the socket is validated and ingested like S5") {
    withGateway() { (gw, rt) =>
      val c = new Client(s"ws://127.0.0.1:${gw.wsPort}/api/v1/ws")
      try {
        c.send("""{"action":"send","channel":"example","data":{"x":7,"owner":"bob","tags":["c"]}}""")
        var got: Option[org.apache.spark.sql.Row] = None
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        while (got.isEmpty && System.nanoTime() < deadline) {
          rt.processAllAvailable()
          got = rt.last("example")
          if (got.isEmpty) Thread.sleep(50)
        }
        assert(got.isDefined, "socket send must reach the channel")
        assert(got.get.getAs[Long]("x") === 7L)
        assert(got.get.getAs[Seq[String]]("tags") === Seq("c")) // arrays decode like REST
        assert(got.get.getAs[String]("id") != null) // system fields auto-assigned

        // invalid send (unknown field) is ignored, connection survives
        c.send("""{"action":"send","channel":"example","data":{"nope":1}}""")
        c.send("""{"action":"bogus","channel":"example"}""")
        c.send("""{"action":"subscribe","channel":"doesnotexist"}""")
        assert(c.heartbeats.poll(5, TimeUnit.SECONDS) != null, "connection stays up")
      } finally c.close()
    }
  }

  test("dict-basket: per-key subscribe filters, frames carry the key, send needs a key") {
    withGateway() { (gw, rt) =>
      val c = new Client(s"ws://127.0.0.1:${gw.wsPort}/api/v1/ws")
      try {
        c.send("""{"action":"subscribe","channel":"basket","key":"AAPL"}""")
        assert(c.heartbeats.poll(5, TimeUnit.SECONDS) === "PING")
        rt.send("basket", Seq(
          Map("sym" -> "AAPL", "px" -> 101.5),
          Map("sym" -> "MSFT", "px" -> 55.0)))
        rt.processAllAvailable()
        val frame = c.nextData()
        assert(frame != null)
        assert(frame.get("channel").asText() === "basket")
        assert(frame.get("key").asText() === "AAPL")
        assert(frame.get("data").get("px").asDouble() === 101.5)
        assert(c.nextData(2) === null, "MSFT tick must not reach an AAPL-only subscriber")

        // send with key: key column injected from the protocol key
        c.send("""{"action":"send","channel":"basket","key":"TSLA","data":{"px":9.9}}""")
        rt.processAllAvailable()
        var last: Map[Any, org.apache.spark.sql.Row] = Map.empty
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        while (!last.contains("TSLA") && System.nanoTime() < deadline) {
          rt.processAllAvailable(); last = rt.lastByBasketKey("basket")
          if (!last.contains("TSLA")) Thread.sleep(50)
        }
        assert(last("TSLA").getAs[Double]("px") === 9.9)

        // keyless basket send is ignored (reference requires a key)
        c.send("""{"action":"send","channel":"basket","data":{"px":1.0}}""")
        Thread.sleep(300)
        rt.processAllAvailable()
        assert(rt.lastByBasketKey("basket").values.forall(_.getAs[Double]("px") != 1.0))

        // whole-basket subscribe: both keys arrive, each frame keyed
        c.send("""{"action":"subscribe","channel":"basket"}""")
        Thread.sleep(300)
        c.data.clear()
        rt.send("basket", Seq(Map("sym" -> "MSFT", "px" -> 56.0)))
        rt.processAllAvailable()
        val f2 = c.nextData()
        assert(f2 != null && f2.get("key").asText() === "MSFT")
      } finally c.close()
    }
  }

  test("fanout: concurrent clients with disjoint subscriptions each get exactly their frames") {
    withGateway() { (gw, rt) =>
      val uri = s"ws://127.0.0.1:${gw.wsPort}/api/v1/ws"
      val exampleSub = new Client(uri)
      val aaplSub = new Client(uri)
      val both = new Client(uri)
      try {
        exampleSub.send("""{"action":"subscribe","channel":"example"}""")
        aaplSub.send("""{"action":"subscribe","channel":"basket","key":"AAPL"}""")
        both.send("""{"action":"subscribe","channel":"example"}""")
        both.send("""{"action":"subscribe","channel":"basket"}""")
        Seq(exampleSub, aaplSub, both).foreach(c =>
          assert(c.heartbeats.poll(5, TimeUnit.SECONDS) === "PING"))
        rt.send("example", Seq(Map("x" -> 1L, "owner" -> "o")))
        rt.send("basket", Seq(Map("sym" -> "AAPL", "px" -> 1.0), Map("sym" -> "MSFT", "px" -> 2.0)))
        rt.processAllAvailable()

        assert(exampleSub.nextData().get("channel").asText() === "example")
        assert(exampleSub.nextData(2) === null, "example-only client got extra frames")

        val af = aaplSub.nextData()
        assert(af.get("key").asText() === "AAPL")
        assert(aaplSub.nextData(2) === null, "AAPL-only client saw MSFT or example")

        val frames = Seq(both.nextData(), both.nextData(), both.nextData()).filter(_ != null)
        val byChan = frames.groupBy(_.get("channel").asText())
        assert(byChan.keySet === Set("example", "basket"))
        assert(byChan("basket").map(_.get("key").asText()).toSet === Set("AAPL", "MSFT"))
      } finally Seq(exampleSub, aaplSub, both).foreach(_.close())
    }
  }

  test("identity filter holds on websocket egress") {
    withGateway(new Gateway(_, 0, Map("example" -> "owner"))) { (gw, rt) =>
      val anon = new Client(s"ws://127.0.0.1:${gw.wsPort}/api/v1/ws")
      try {
        anon.send("""{"action":"subscribe","channel":"example"}""")
        assert(anon.heartbeats.poll(5, TimeUnit.SECONDS) === "PING")
        rt.send("example", Seq(Map("x" -> 1L, "owner" -> "alice")))
        rt.processAllAvailable()
        assert(anon.nextData(2) === null, "anonymous caller must not receive filtered rows")
      } finally anon.close()
    }
  }

  test("session cookie authenticates the websocket handshake (ws cookie fix parity)") {
    val rt = new ChannelRuntime(spark,
      Map("example" -> ChannelSpec("example", schema, stateKeyby = Seq("owner"))),
      Some(Files.createTempDirectory("graft-ws-ckpt").toString))
    rt.start()
    val gw = new Gateway(rt, 0, Map("example" -> "owner"),
      simpleAuthUsers = Map("alice" -> "pw")).start()
    try {
      // mint a session over HTTP, hand the cookie to the WS handshake
      val http = HttpClient.newHttpClient()
      val basic = "Basic " + java.util.Base64.getEncoder
        .encodeToString("alice:pw".getBytes("UTF-8"))
      val login = http.send(
        java.net.http.HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${gw.boundPort}/login"))
          .header("Authorization", basic).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      val cookie = login.headers().firstValue("Set-Cookie").orElse("").split(";")(0)
      assert(cookie.startsWith("session="))
      // without it the handshake gets the REST gate's 401 and challenge
      val refused = intercept[java.util.concurrent.ExecutionException](
        new Client(s"ws://127.0.0.1:${gw.wsPort}/api/v1/ws"))
        .getCause.asInstanceOf[java.net.http.WebSocketHandshakeException].getResponse
      assert(refused.statusCode() === 401)
      assert(refused.headers().firstValue("WWW-Authenticate").orElse("") === "Basic")

      val c = new Client(s"ws://127.0.0.1:${gw.wsPort}/api/v1/ws",
        Map("Cookie" -> cookie))
      try {
        c.send("""{"action":"subscribe","channel":"example"}""")
        assert(c.heartbeats.poll(5, TimeUnit.SECONDS) === "PING")
        rt.send("example", Seq(
          Map("x" -> 1L, "owner" -> "alice"), Map("x" -> 2L, "owner" -> "bob")))
        rt.processAllAvailable()
        // the session identity filters egress: alice's row only
        val frame = c.nextData()
        assert(frame != null && frame.get("data").get("x").asLong() === 1L)
        assert(c.nextData(2) === null, "bob's row must not reach alice's session")
      } finally c.close()
    } finally { gw.stop(); rt.stop() }
  }

  test("the handshake passes the REST auth gate: no token → 403, token in query, header or cookie → 101") {
    withGateway(new Gateway(_, 0, apiKeys = Seq("k123"))) { (gw, rt) =>
      val uri = s"ws://127.0.0.1:${gw.wsPort}/api/v1/ws"
      assert(refusedWith(uri) === 403)
      assert(refusedWith(s"$uri?token=nope") === 403)
      for ((u, headers) <- Seq(s"$uri?token=k123" -> Map.empty[String, String],
          uri -> Map("token" -> "k123"), uri -> Map("Cookie" -> "other=1; token=k123"))) {
        val c = new Client(u, headers)
        try assert(c.heartbeats.poll(5, TimeUnit.SECONDS) === "PING")
        finally c.close()
      }
      assert(rt.tickCount("example") === 0)
    }
  }
}
