package graft

import java.nio.file.Files

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.client._
import graft.core.ChannelSpec
import graft.server.Gateway
import graft.state.{FilterBy, StateFilter, StateQuery}
import graft.streaming.ChannelRuntime

/** e2e client tests: every verb of [[graft.client.GatewayClient]]
  * driven against a live gateway over real HTTP/WS — the client-side
  * mirror of the shapes the reference asserts in
  * tests/server/web/test_webserver.py:82-844.
  */
class GatewayClientSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("id", StringType),
    StructField("timestamp", TimestampType),
    StructField("x", LongType),
    StructField("owner", StringType)))

  private def withGateway(
      authFilterFields: Map[String, String] = Map.empty,
      simpleAuthUsers: Map[String, String] = Map.empty)(
      f: (GatewayClientConfig => GatewayClient, ChannelRuntime) => Unit): Unit = {
    val rt = new ChannelRuntime(spark,
      Map("example" -> ChannelSpec("example", schema, stateKeyby = Seq("owner"))),
      Files.createTempDirectory("graft-client-ckpt").toString)
    rt.start()
    val gw = new Gateway(rt, 0, authFilterFields,
      simpleAuthUsers = simpleAuthUsers).start()
    val base = GatewayClientConfig(host = "127.0.0.1", port = gw.boundPort,
      wsPort = Some(gw.wsPort))
    try f(cfg => new GatewayClient(
      cfg.copy(host = base.host, port = base.port, wsPort = base.wsPort)), rt)
    finally { gw.stop(); rt.stop() }
  }

  test("client stream source: gateway B re-serves gateway A's channel (S9)") {
    withGateway() { (mk, rtA) =>
      // an independent second runtime; channel remapped (one shared
      // test SparkSession — per-channel query names must not collide)
      val rtB = new ChannelRuntime(spark,
        Map("example_b" -> ChannelSpec("example_b", schema, stateKeyby = Seq("owner"))),
        Files.createTempDirectory("graft-client-b-ckpt").toString)
      rtB.start()
      try {
        val client = mk(GatewayClientConfig())
        val stream = client.connect(Seq("example" -> None))
        val pump = ClientStreamSource.into(stream, rtB, ch => ch + "_b")
        try {
          Thread.sleep(300) // ws subscription registers on A
          client.send("example", Map("x" -> 1L, "owner" -> "alice"))
          client.send("example", Map("x" -> 2L, "owner" -> "bob"))
          client.send("example", Map("x" -> 5L, "owner" -> "alice"))
          rtA.processAllAvailable()
          // the pump forwards asynchronously; wait for 3 frames
          val deadline = System.currentTimeMillis() + 15000
          while (pump.frameCount < 3 && System.currentTimeMillis() < deadline)
            Thread.sleep(50)
          assert(pump.frameCount === 3)
          assert(pump.failureCount === 0)
          rtB.processAllAvailable()
          def snap(rt: ChannelRuntime, ch: String) =
            rt.state(ch, StateQuery())
              .map(r => (r.getAs[String]("owner"), r.getAs[Long]("x")))
          // B's state (last per owner) matches A's exactly
          assert(snap(rtB, "example_b") === snap(rtA, "example"))
          assert(snap(rtB, "example_b") === Seq(("alice", 5L), ("bob", 2L)))
        } finally { pump.stop(); stream.close() }
      } finally rtB.stop()
    }
  }

  test("client stream frames: live Dataset of envelope rows") {
    withGateway() { (mk, rtA) =>
      val client = mk(GatewayClientConfig())
      val stream = client.connect(Seq("example" -> None))
      val (df, pump) = ClientStreamSource.frames(spark, stream)
      val q = df.writeStream.format("memory").queryName("client_frames")
        .outputMode("append")
        .option("checkpointLocation",
          Files.createTempDirectory("graft-cs-ckpt").toString)
        .start()
      try {
        Thread.sleep(300)
        client.send("example", Map("x" -> 7L, "owner" -> "ws"))
        rtA.processAllAvailable()
        val deadline = System.currentTimeMillis() + 15000
        while (pump.frameCount < 1 && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        q.processAllAvailable()
        val rows = spark.table("client_frames").collect()
        assert(rows.length === 1)
        assert(rows(0).getAs[String]("channel") === "example")
        assert(rows(0).getAs[String]("data").contains("\"x\":7"))
      } finally { q.stop(); pump.stop(); stream.close() }
    }
  }

  test("send/last/state/lookup round trip with response shaping") {
    withGateway() { (mk, rt) =>
      val client = mk(GatewayClientConfig())
      // single send: echoed list-wrapped, server-assigned id/timestamp
      val echo = client.send("example", Map("x" -> 1L, "owner" -> "alice"))
      assert(echo.size === 1)
      val id = echo.rows.head("id").asInstanceOf[String]
      assert(id.nonEmpty)

      // list send
      val many = client.sendMany("example",
        Seq(Map("x" -> 2L, "owner" -> "bob"), Map("x" -> 3L, "owner" -> "alice")))
      assert(many.size === 2)
      rt.processAllAvailable()

      // last: most recent tick
      val last = client.last("example")
      assert(last.rows.head("x") === 3L)

      // state: full scan has both owners
      val state = client.state("example")
      assert(state.rows.map(_("owner")).toSet === Set("alice", "bob"))

      // state with a typed query -> only bob (x <= 2)
      val filtered = client.state("example",
        StateQuery(Seq(StateFilter("x", FilterBy.Value(2L), "<="))))
      assert(filtered.rows.map(_("owner")) === Seq("bob"))

      // lookup by the echoed id returns the original row
      val looked = client.lookup("example", id)
      assert(looked.rows.head("x") === 1L)

      // DataFrame shaping (the reference's as_pandas_df analog); the
      // keyed state scan carries one row per owner
      val df = state.toDF(spark)
      assert(df.columns.contains("owner") && df.count() === 2)
    }
  }

  test("client sends timestamps, float arrays and binary in the server's wire form") {
    val typed = StructType(Seq(StructField("owner", StringType), StructField("at", TimestampType),
      StructField("fs", ArrayType(FloatType)), StructField("bin", BinaryType)))
    val rt = new ChannelRuntime(spark,
      Map("typed" -> ChannelSpec("typed", typed, stateKeyby = Seq("owner"))),
      Files.createTempDirectory("graft-client-typed-ckpt").toString)
    rt.start()
    val gw = new Gateway(rt, 0).start()
    try {
      val client = new GatewayClient(GatewayClientConfig(host = "127.0.0.1", port = gw.boundPort))
      val at = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-02T03:04:05.123456Z"))
      client.send("typed", Map("owner" -> "a", "at" -> at, "fs" -> Seq(1.5f, -0.25f),
        "bin" -> Array[Byte](1, 2, -1)))
      rt.processAllAvailable()
      val row = rt.last("typed").get
      assert(row.getAs[java.sql.Timestamp]("at") === at)
      assert(row.getAs[Seq[Float]]("fs") === Seq(1.5f, -0.25f))
      assert(row.getAs[Array[Byte]]("bin").toSeq === Seq[Byte](1, 2, -1))
      val back = client.last("typed").rows.head
      assert(back("at") === "2024-01-02T03:04:05.123456Z")
      assert(back("fs") === Seq(1.5, -0.25))
      assert(back("bin") === "AQL/")
    } finally { gw.stop(); rt.stop() }
  }

  test("typed errors: not-mounted client-side, 404 and 422 server-side") {
    withGateway() { (mk, _) =>
      val client = mk(GatewayClientConfig())
      // unknown channel never appears in openapi.json -> client-side raise
      intercept[ServerRouteNotMountedException](client.last("ghost"))
      intercept[ServerRouteNotMountedException](client.state("ghost"))
      // mounted channel, missing id -> server 404 as typed error
      intercept[ServerRouteNotFoundException](client.lookup("example", "zzz"))
      // unknown field in payload -> server 422 as typed error
      intercept[ServerUnprocessableException](
        client.send("example", Map("ghost_field" -> 1L)))
      // available-channels listing per family
      assert(client.availableChannels("last") === Seq("example"))
      // controls surface
      assert(client.controls("heartbeat").rows.head("status") === "ok")
      val stats = client.controls("stats")
      assert(stats.rows.head("name") === "stats")
    }
  }

  test("next blocks until the tick arrives") {
    withGateway() { (mk, rt) =>
      val client = mk(GatewayClientConfig())
      val fut = java.util.concurrent.CompletableFuture.supplyAsync(() =>
        client.next("example"))
      Thread.sleep(400) // let the server-side future register
      client.send("example", Map("x" -> 42L, "owner" -> "nxt"))
      rt.processAllAvailable()
      val r = fut.get(15, java.util.concurrent.TimeUnit.SECONDS)
      assert(r.rows.head("x") === 42L)
    }
  }

  test("websocket stream: subscribe, receive, publish, unsubscribe") {
    withGateway() { (mk, rt) =>
      val client = mk(GatewayClientConfig())
      val stream = client.connect(Seq("example" -> None))
      try {
        Thread.sleep(300) // subscription registers server-side
        client.send("example", Map("x" -> 7L, "owner" -> "ws"))
        rt.processAllAvailable()
        val frame = stream.takeData(10000).getOrElse(fail("no frame"))
        assert(frame.get("channel").asText() === "example")
        assert(frame.get("data").get("x").asLong() === 7L)

        // publish through the socket: lands in channel state
        stream.publish("example", Map("x" -> 8L, "owner" -> "ws"))
        Thread.sleep(300)
        rt.processAllAvailable()
        val frame2 = stream.takeData(10000).getOrElse(fail("no frame after publish"))
        assert(frame2.get("data").get("x").asLong() === 8L)
        assert(client.state("example").rows.exists(_("x") == 8L))

        // unsubscribe: further ticks produce no data frames
        stream.unsubscribe("example")
        Thread.sleep(300)
        client.send("example", Map("x" -> 9L, "owner" -> "ws"))
        rt.processAllAvailable()
        assert(stream.takeData(1500).isEmpty)

        // lossless contract: nothing was silently discarded (the inbox
        // enqueue backpressures the socket instead of dropping)
        assert(stream.droppedFrames === 0L)
      } finally stream.close()
    }
  }

  test("basket-key variants over client: send/last/next by key, ws key sub") {
    val basketSchema = StructType(Seq(
      StructField("id", StringType),
      StructField("timestamp", TimestampType),
      StructField("sym", StringType),
      StructField("px", DoubleType)))
    val rt = new ChannelRuntime(spark,
      Map("quotes" -> ChannelSpec("quotes", basketSchema, basketKey = Some("sym"),
        basketKeys = Some(Seq("AAPL", "MSFT")))),
      Files.createTempDirectory("graft-client-basket-ckpt").toString)
    rt.start()
    val gw = new Gateway(rt, 0).start()
    val client = new GatewayClient(GatewayClientConfig(
      host = "127.0.0.1", port = gw.boundPort, wsPort = Some(gw.wsPort)))
    try {
      // key-variant send injects the path key as the basket column
      val echo = client.send("quotes", "AAPL", Map("px" -> 101.5))
      assert(echo.rows.head("sym") === "AAPL")
      client.send("quotes", "MSFT", Map("px" -> 55.0))
      // undeclared key -> typed 404
      intercept[ServerRouteNotFoundException](
        client.send("quotes", "NOPE", Map("px" -> 1.0)))
      rt.processAllAvailable()

      // per-key and whole-basket last
      assert(client.last("quotes", "AAPL").rows.head("px") === 101.5)
      assert(client.last("quotes").rows.map(_("sym")) === Seq("AAPL", "MSFT"))

      // per-key next resolves only on a tick carrying that key
      val nfut = java.util.concurrent.CompletableFuture.supplyAsync(() =>
        client.nextKey("quotes", "MSFT"))
      Thread.sleep(300)
      client.send("quotes", "AAPL", Map("px" -> 101.9)) // other key: no resolve
      client.send("quotes", "MSFT", Map("px" -> 55.5))
      rt.processAllAvailable()
      val nres = nfut.get(15, java.util.concurrent.TimeUnit.SECONDS)
      assert(nres.rows.head("sym") === "MSFT" && nres.rows.head("px") === 55.5)

      // per-key subscription sees only its key
      val stream = client.connect(Seq("quotes" -> Some("MSFT")))
      try {
        Thread.sleep(300)
        client.send("quotes", "AAPL", Map("px" -> 102.0))
        client.send("quotes", "MSFT", Map("px" -> 56.0))
        rt.processAllAvailable()
        val frame = stream.takeData(10000).getOrElse(fail("no frame"))
        assert(frame.get("key").asText() === "MSFT")
        assert(frame.get("data").get("px").asDouble() === 56.0)
        assert(stream.takeData(1000).isEmpty) // AAPL tick filtered out
      } finally stream.close()
    } finally { gw.stop(); rt.stop() }
  }

  test("identity-filtered session: basic auth identity scopes reads, writes, ws") {
    withGateway(
      authFilterFields = Map("example" -> "owner"),
      simpleAuthUsers = Map("alice" -> "pw-a", "bob" -> "pw-b")) { (mk, rt) =>
      val alice = mk(GatewayClientConfig(basicAuth = Some(("alice", "pw-a"))))
      val bob = mk(GatewayClientConfig(basicAuth = Some(("bob", "pw-b"))))

      // each identity may only write rows it owns
      alice.send("example", Map("x" -> 1L, "owner" -> "alice"))
      bob.send("example", Map("x" -> 2L, "owner" -> "bob"))
      intercept[ServerUnprocessableException](
        alice.send("example", Map("x" -> 3L, "owner" -> "bob")))
      rt.processAllAvailable()

      // reads are scoped to the caller's identity
      assert(alice.state("example").rows.map(_("owner")).toSet === Set("alice"))
      assert(bob.state("example").rows.map(_("owner")).toSet === Set("bob"))

      // no credentials at all -> 401 challenge as typed unknown error
      val anon = mk(GatewayClientConfig())
      val err = intercept[ServerUnknownException](anon.state("example"))
      assert(err.getMessage.startsWith("401"))

      // ws egress honors the same identity filter
      val stream = alice.connect(Seq("example" -> None))
      try {
        Thread.sleep(300)
        alice.send("example", Map("x" -> 10L, "owner" -> "alice"))
        bob.send("example", Map("x" -> 11L, "owner" -> "bob"))
        rt.processAllAvailable()
        val frame = stream.takeData(10000).getOrElse(fail("no frame"))
        assert(frame.get("data").get("owner").asText() === "alice")
        assert(stream.takeData(1000).isEmpty) // bob's tick invisible to alice
      } finally stream.close()
    }
  }

  test("connect retries with backoff until the ws server is up") {
    withGateway() { (mk, rt) =>
      // no server on this port: a short timeout fails with the typed error
      val dead = new GatewayClient(GatewayClientConfig(
        host = "127.0.0.1", port = 1, wsPort = Some(findFreePort())))
      val err = intercept[ServerUnknownException](
        dead.connect(Nil, connectTimeoutMillis = 400))
      assert(err.getMessage.contains("websocket connect failed"))

      // a server that comes up DURING the retry window is reached
      val client = mk(GatewayClientConfig())
      val stream = client.connect(Seq("example" -> None), connectTimeoutMillis = 5000)
      try {
        Thread.sleep(300)
        client.send("example", Map("x" -> 21L, "owner" -> "rb"))
        rt.processAllAvailable()
        assert(stream.takeData(10000).exists(_.get("data").get("x").asLong() == 21L))
      } finally stream.close()
    }
  }

  private def findFreePort(): Int = {
    val s = new java.net.ServerSocket(0)
    val p = s.getLocalPort
    s.close()
    p
  }

  test("controls shutdown through the client stops the gateway") {
    val rt = new ChannelRuntime(spark,
      Map("example" -> ChannelSpec("example", schema)),
      Files.createTempDirectory("graft-client-shut-ckpt").toString)
    rt.start()
    val stopped = new java.util.concurrent.CountDownLatch(1)
    val gw = new Gateway(rt, 0, onShutdown = () => stopped.countDown()).start()
    try {
      val client = new GatewayClient(GatewayClientConfig(
        host = "127.0.0.1", port = gw.boundPort))
      val r = client.controls("shutdown")
      assert(r.rows.head("status") === "ok")
      // the launcher hook fires after the response flushes
      assert(stopped.await(10, java.util.concurrent.TimeUnit.SECONDS))
      // listeners are down: a later call fails at the connection level
      Thread.sleep(200)
      intercept[Exception](client.last("example"))
    } finally rt.stop()
  }

  test("api-key auth: token query param authorizes, missing key rejected") {
    val rt = new ChannelRuntime(spark,
      Map("example" -> ChannelSpec("example", schema)),
      Files.createTempDirectory("graft-client-key-ckpt").toString)
    rt.start()
    val gw = new Gateway(rt, 0, apiKeys = Seq("sekret")).start()
    try {
      val keyed = new GatewayClient(GatewayClientConfig(
        host = "127.0.0.1", port = gw.boundPort, apiKey = Some("sekret")))
      keyed.send("example", Map("x" -> 5L, "owner" -> "k"))
      rt.processAllAvailable()
      assert(keyed.last("example").rows.head("x") === 5L)

      val anon = new GatewayClient(GatewayClientConfig(
        host = "127.0.0.1", port = gw.boundPort))
      val err = intercept[ServerUnknownException](anon.openApiSpec)
      assert(err.getMessage.contains("403") || err.getMessage.contains("openapi"))

      // credential wave r15 (mutation c02): membership must be EXACT —
      // a strict PREFIX of a configured key (and a key the configured
      // one is a prefix OF) must both be rejected. The c02 mutant
      // (contains -> exists(_.startsWith(t))) survived the full suite
      // because every negative test used a disjoint wrong key.
      for (almost <- Seq("sek", "sekre", "sekrets", "ekret")) {
        val near = new GatewayClient(GatewayClientConfig(
          host = "127.0.0.1", port = gw.boundPort, apiKey = Some(almost)))
        val e = intercept[ServerUnknownException](near.openApiSpec)
        assert(e.getMessage.contains("403"),
          s"near-key '$almost' must be rejected, got: ${e.getMessage}")
      }
    } finally { gw.stop(); rt.stop() }
  }
}
