package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.ChannelSpec
import graft.server.Gateway
import graft.streaming.ChannelRuntime

/** REST surface tests mirroring the reference's webserver e2e suite
  * (tests/server/web/test_webserver.py): send single + list, last,
  * state with filter query, lookup, 404/422 rules, identity filter.
  */
class GatewaySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val http = HttpClient.newHttpClient()

  private val schema = StructType(Seq(
    StructField("id", StringType),
    StructField("timestamp", TimestampType),
    StructField("x", LongType),
    StructField("owner", StringType)))

  private var gatewayUnderTest: Option[Gateway] = None

  private def withGateway(auth: Map[String, String] = Map.empty,
      channelSchema: StructType = schema)(f: (String, ChannelRuntime) => Unit): Unit = {
    val rt = new ChannelRuntime(spark,
      Map("example" -> ChannelSpec("example", channelSchema, stateKeyby = Seq("owner"))),
      Files.createTempDirectory("graft-gw-ckpt").toString)
    rt.start()
    val gw = new Gateway(rt, 0, auth).start()
    gatewayUnderTest = Some(gw)
    try f(s"http://127.0.0.1:${gw.boundPort}/api/v1", rt)
    finally { gatewayUnderTest = None; gw.stop(); rt.stop() }
  }

  private def get(url: String, headers: Map[String, String] = Map.empty): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(url))
    headers.foreach { case (k, v) => b.header(k, v) }
    http.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }

  private def post(url: String, body: String,
      headers: Map[String, String] = Map.empty): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(url))
      .POST(HttpRequest.BodyPublishers.ofString(body))
    headers.foreach { case (k, v) => b.header(k, v) }
    http.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }

  test("send single + list, last, state query, lookup") {
    withGateway() { (base, rt) =>
      val r1 = post(s"$base/send/example", """{"x": 1, "owner": "alice"}""")
      assert(r1.statusCode() === 200)
      val id = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(r1.body()).get(0).get("id").asText()

      val r2 = post(s"$base/send/example",
        """[{"x": 2, "owner": "bob"}, {"x": 3, "owner": "alice"}]""")
      assert(r2.statusCode() === 200)
      rt.processAllAvailable()

      val last = get(s"$base/last/example")
      assert(last.body().contains("\"x\":3"))

      val state = get(s"$base/state/example")
      assert(state.body().contains("alice") && state.body().contains("bob"))

      val q = java.net.URLEncoder.encode(
        """{"filters":[{"attr":"x","by":{"value":2},"where":"<="}]}""", "UTF-8")
      val filtered = get(s"$base/state/example?query=$q")
      assert(filtered.body().contains("bob") && !filtered.body().contains("alice"))

      val look = get(s"$base/lookup/example/$id")
      assert(look.statusCode() === 200 && look.body().contains("\"x\":1"))
      assert(get(s"$base/lookup/example/zzz").statusCode() === 404)
    }
  }

  test("404 unknown channel, 422 bad payload") {
    withGateway(channelSchema = schema.add(StructField("day", DateType))) { (base, _) =>
      assert(get(s"$base/last/ghost").statusCode() === 404)
      assert(post(s"$base/send/ghost", "{}").statusCode() === 404)
      assert(post(s"$base/send/example", """{"ghost_field": 1}""").statusCode() === 422)
      // a value of the wrong type is a 422 naming the field, not a 500
      val typed = post(s"$base/send/example", """{"x": "abc"}""")
      assert(typed.statusCode() === 422 && typed.body().contains("'x'"), typed.body())
      // dates travel as `yyyy-mm-dd`; any other text is a 422 naming the field
      assert(post(s"$base/send/example", """{"day": "2024-02-29"}""").statusCode() === 200)
      val badDay = post(s"$base/send/example", """{"day": "29.02.2024"}""")
      assert(badDay.statusCode() === 422 && badDay.body().contains("'day'"), badDay.body())
    }
  }

  test("every field type reads back over REST in the form it was sent") {
    val typed = StructType(Seq(
      StructField("owner", StringType), StructField("bin", BinaryType),
      StructField("fs", ArrayType(FloatType)), StructField("bs", ArrayType(BooleanType)),
      StructField("tss", ArrayType(TimestampType)),
      StructField("nested", ArrayType(ArrayType(LongType))),
      StructField("st", StructType(Seq(StructField("a", LongType), StructField("s", StringType)))),
      StructField("m", MapType(StringType, DoubleType)), StructField("dec", DecimalType(10, 2)),
      StructField("day", DateType)))
    withGateway(channelSchema = typed) { (base, rt) =>
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val sent = m.readTree(
        """{"owner":"a","bin":"AAF/gA==","fs":[1.5,-0.0,"NaN"],"bs":[true,false,null],""" +
          """"tss":["2024-01-02T03:04:05.123456Z","1970-01-01T00:00:00Z"],""" +
          """"nested":[[1,2],[],null],"st":{"a":7,"s":"ü"},"m":{"x":0.5,"y":"-Infinity"},""" +
          """"dec":12.34,"day":"2024-02-29"}""")
      val r = post(s"$base/send/example", sent.toString)
      assert(r.statusCode() === 200, r.body())
      rt.processAllAvailable()
      val state = m.readTree(get(s"$base/state/example").body())
      assert(state.size() === 1, state)
      sent.fieldNames().forEachRemaining(f => assert(state.get(0).get(f) === sent.get(f), f))
    }
  }

  test("SSE stream egress (K8): ticks fan out as data frames") {
    withGateway() { (base, rt) =>
      val fut = java.util.concurrent.CompletableFuture.supplyAsync { () =>
        get(s"$base/stream/example?max_events=2").body()
      }
      Thread.sleep(500) // let the subscriber attach
      post(s"$base/send/example", """{"x": 7, "owner": "sse"}""")
      rt.processAllAvailable()
      post(s"$base/send/example", """{"x": 8, "owner": "sse"}""")
      rt.processAllAvailable()
      val body = fut.get(30, java.util.concurrent.TimeUnit.SECONDS)
      assert(body.contains("\"channel\":\"example\""))
      assert(body.contains("\"x\":7") && body.contains("\"x\":8"))
    }
  }

  test("SSE frames carry only the caller's rows (X13)") {
    withGateway(Map("example" -> "owner")) { (base, rt) =>
      // one subscriber per caller; each collects its `data:` lines
      val subs = Seq(Map.empty[String, String], Map("x-identity" -> "bob"),
          Map("x-identity" -> "alice")).map { headers =>
        val b = HttpRequest.newBuilder(URI.create(s"$base/stream/example"))
        headers.foreach { case (k, v) => b.header(k, v) }
        val lines = http.send(b.build(), HttpResponse.BodyHandlers.ofLines()).body()
        val frames = new java.util.concurrent.LinkedBlockingQueue[String]
        val pinged = new java.util.concurrent.CountDownLatch(1)
        val reader = new Thread(() =>
          try lines.forEach { l =>
            if (l.startsWith(": ping")) pinged.countDown()
            else if (l.startsWith("data: ")) frames.offer(l)
          } catch { case _: Throwable => () })
        reader.setDaemon(true)
        reader.start()
        (lines, frames, pinged)
      }
      try {
        // the server pings only once its listener is attached
        subs.foreach(s => assert(s._3.await(10, java.util.concurrent.TimeUnit.SECONDS)))
        assert(post(s"$base/send/example", """{"x": 1, "owner": "alice"}""",
          Map("x-identity" -> "alice")).statusCode() === 200)
        rt.processAllAvailable()
        val Seq(anon, bob, alice) = subs.map(_._2)
        val own = alice.poll(10, java.util.concurrent.TimeUnit.SECONDS)
        assert(own != null && own.contains("\"owner\":\"alice\""), "the owner receives the row")
        assert(anon.poll(1500, java.util.concurrent.TimeUnit.MILLISECONDS) === null,
          "an anonymous subscriber must get none of alice's rows")
        assert(bob.poll(500, java.util.concurrent.TimeUnit.MILLISECONDS) === null,
          "another identity must get none of alice's rows")
      } finally subs.foreach(_._1.close())
    }
  }

  test("dict-basket routes: send/last/next by key, whole-basket last, 404 rules") {
    val basketSchema = StructType(Seq(
      StructField("id", StringType),
      StructField("timestamp", TimestampType),
      StructField("sym", StringType),
      StructField("px", DoubleType)))
    val rt = new ChannelRuntime(spark,
      Map("quotes" -> ChannelSpec("quotes", basketSchema, basketKey = Some("sym"),
        basketKeys = Some(Seq("AAPL", "MSFT", "TSLA")))),
      Files.createTempDirectory("graft-gw-basket-ckpt").toString)
    rt.start()
    val gw = new Gateway(rt, 0).start()
    val base = s"http://127.0.0.1:${gw.boundPort}/api/v1"
    try {
      // send by key: key column injected from the path segment
      val r1 = post(s"$base/send/quotes/AAPL", """{"px": 101.5}""")
      assert(r1.statusCode() === 200 && r1.body().contains("AAPL"))
      assert(post(s"$base/send/quotes/MSFT", """{"px": 55.0}""").statusCode() === 200)
      // key outside the declared set → 404
      assert(post(s"$base/send/quotes/NOPE", """{"px": 1.0}""").statusCode() === 404)
      rt.processAllAvailable()

      // per-key last
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val aapl = mapper.readTree(get(s"$base/last/quotes/AAPL").body())
      assert(aapl.size() === 1 && aapl.get(0).get("px").asDouble() === 101.5)
      // declared-but-unticked key → 200 []
      assert(get(s"$base/last/quotes/TSLA").body() === "[]")
      // undeclared key → 404
      assert(get(s"$base/last/quotes/NOPE").statusCode() === 404)

      // whole-basket last: one row per key, key-sorted
      val all = mapper.readTree(get(s"$base/last/quotes").body())
      assert(all.size() === 2)
      assert(all.get(0).get("sym").asText() === "AAPL")
      assert(all.get(1).get("sym").asText() === "MSFT")

      // per-key next: resolves only on a tick carrying that key
      val fut = java.util.concurrent.CompletableFuture.supplyAsync(() =>
        get(s"$base/next/quotes/TSLA"))
      Thread.sleep(300)
      post(s"$base/send/quotes/MSFT", """{"px": 56.0}""") // other key: no resolve
      post(s"$base/send/quotes/TSLA", """{"px": 9.9}""")
      rt.processAllAvailable()
      val nxt = mapper.readTree(fut.get(15, java.util.concurrent.TimeUnit.SECONDS).body())
      assert(nxt.size() === 1 && nxt.get(0).get("sym").asText() === "TSLA")
      assert(get(s"$base/next/quotes/NOPE").statusCode() === 404)
    } finally { gw.stop(); rt.stop() }
  }

  test("openapi document: info shape, per-channel paths, row types (test_webserver.py:80-110)") {
    withGateway() { (base, _) =>
      val root = base.stripSuffix("/api/v1")
      val r = get(s"$root/openapi.json")
      assert(r.statusCode() === 200)
      val doc = new com.fasterxml.jackson.databind.ObjectMapper().readTree(r.body())
      assert(doc.get("info").get("title").asText() === "Gateway")
      assert(doc.get("info").get("version").asText().nonEmpty)
      val paths = doc.get("paths")
      for (p <- Seq("/api/v1/last/example", "/api/v1/next/example", "/api/v1/state/example"))
        assert(paths.has(p), s"missing $p")
      assert(paths.get("/api/v1/last/example").get("get").get("type_").asText() === "Example")
      assert(paths.get("/api/v1/send/example").has("post"))
      // row schema surfaced under components
      val ex = doc.get("components").get("schemas").get("Example")
      assert(ex.get("properties").get("x").get("type").asText() === "integer")
      assert(ex.get("properties").get("timestamp").get("format").asText() === "date-time")
      // docs page links the spec
      assert(get(s"$root/docs").body().contains("/openapi.json"))
    }
  }

  test("available-channels listings and controls routes (controls.py, *_available_channels)") {
    withGateway() { (base, _) =>
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      // GET /{family}/ → sorted channel names
      for (f <- Seq("last", "next", "state", "send", "lookup", "stream")) {
        val r = get(s"$base/$f/")
        assert(r.statusCode() === 200, f)
        val names = m.readTree(r.body())
        assert(names.isArray && names.size() > 0, f)
        assert(scala.jdk.CollectionConverters.IteratorHasAsScala(names.elements())
          .asScala.map(_.asText()).contains("example"), f)
      }
      // controls: heartbeat + stats (shutdown covered implicitly — it
      // would stop the server under test)
      val hb = m.readTree(get(s"$base/controls/heartbeat").body())
      assert(hb.get("name").asText() === "heartbeat" && hb.get("status").asText() === "ok")
      val st = m.readTree(get(s"$base/controls/stats").body())
      assert(st.get("name").asText() === "stats")
      val data = st.get("data")
      assert(data.get("cpu").asInt() > 0 && data.get("memory-total").asLong() > 0)
      assert(data.get("host").asText().nonEmpty && data.get("now").asText().nonEmpty)
    }
  }

  test("K4 web surface: mounted views serve JSON and Arrow IPC (Perspective wire format)") {
    withGateway() { (base, rt) =>
      val vs = new graft.sinks.ViewServer(rt)
      vs.define("by_owner", "example", graft.operators.ViewConfig(
        groupBy = Seq("owner"),
        aggregates = Seq("mx" -> ("x", "max")),
        sort = Seq(("owner", true))))
      // gateway reference captured through the runtime's bound port —
      // attach via the withGateway-provided base URL's server
      post(s"$base/send/example",
        """[{"x": 1, "owner": "alice"}, {"x": 5, "owner": "bob"}, {"x": 3, "owner": "alice"}]""")
      rt.processAllAvailable()
      vs.refresh()
      gatewayUnderTest.foreach(_.attachViews(vs))

      assert(get(s"$base/table").body() === """["by_owner"]""")
      val json = get(s"$base/table/by_owner")
      assert(json.statusCode() === 200)
      assert(json.body().contains("alice") && json.body().contains("\"mx\":5"))
      assert(get(s"$base/table/nope").statusCode() === 404)

      // Arrow IPC stream: read it back with the arrow-vector reader
      val req = HttpRequest.newBuilder(URI.create(s"$base/table/by_owner/arrow")).build()
      val resp = http.send(req, HttpResponse.BodyHandlers.ofByteArray())
      assert(resp.statusCode() === 200)
      assert(resp.headers().firstValue("Content-Type").orElse("")
        === "application/vnd.apache.arrow.stream")
      val alloc = new org.apache.arrow.memory.RootAllocator()
      val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
        new java.io.ByteArrayInputStream(resp.body()), alloc)
      try {
        assert(reader.loadNextBatch())
        val root = reader.getVectorSchemaRoot
        assert(root.getSchema.getFields.size() === 2)
        assert(root.getSchema.getFields.get(0).getName === "owner")
        assert(root.getRowCount === 2)
        val owners = (0 until 2).map(i =>
          root.getVector("owner").getObject(i).toString).sorted
        assert(owners === Seq("alice", "bob"))
        val mx = (0 until 2).map(i =>
          root.getVector("mx").getObject(i).asInstanceOf[Long]).sorted
        assert(mx === Seq(3L, 5L))
      } finally { reader.close(); alloc.close() }

      // browse workspace (the Perspective-free stand-in pages): the
      // listing links every view, the per-table page drives the same
      // JSON data plane the API serves
      val hostBase = base.stripSuffix("/api/v1")
      val listing = get(s"$hostBase/tables")
      assert(listing.statusCode() === 200)
      assert(listing.headers().firstValue("Content-Type").orElse("") === "text/html")
      assert(listing.body().contains("""<a href="/tables/by_owner">by_owner</a>"""))
      val tablePage = get(s"$hostBase/tables/by_owner")
      assert(tablePage.statusCode() === 200)
      assert(tablePage.body().contains("/api/v1/table/by_owner"))
      // the pivot workspace ships its controls + engine inline
      // (group-by/agg/filter/sort/limit — the Perspective use-case)
      Seq("group by", "split by", "function pivot(", "function applyFilter(",
        """sel('agg', ['count','sum','avg','min','max'])""",
        "state.sortDir * cmp(", "g.subs.get(sv)",
        // chart view (the Perspective chart-plugin analogue)
        "function chartSvg(", """sel('vw', ['grid','bar'])""",
        "state.view === 'bar'",
        // computed expression columns (the ExprTK analogue,
        // perspective.py:133-142) — parser, binder, and the row mapper
        // that applies them before filter/pivot
        "function compileExpr(", "function setExprs(",
        "function withComputed(", "pivot(applyFilter(withComputed(raw)))",
        "state.cols.concat(state.exprs.map(",
        // control rebuilds restore the user's configuration from state
        // (advisor r13: a bare controls() reset the DOM to defaults and
        // the next apply silently wiped the prior configuration)
        "function syncControls(", "function rebuildControls(").foreach(frag =>
        assert(tablePage.body().contains(frag), s"missing: $frag"))
      assert(get(s"$hostBase/tables/nope").statusCode() === 404)
    }
  }

  test("K4 tables over identity-filtered channels serve caller rows only") {
    withGateway(Map("example" -> "owner")) { (base, rt) =>
      val vs = new graft.sinks.ViewServer(rt)
      vs.define("raw", "example", graft.operators.ViewConfig()) // exposes 'owner'
      vs.define("agg", "example", graft.operators.ViewConfig(   // drops 'owner'
        aggregates = Seq("n" -> ("x", "count"))))
      post(s"$base/send/example", """{"x":1,"owner":"alice"}""",
        Map("x-identity" -> "alice"))
      post(s"$base/send/example", """{"x":2,"owner":"bob"}""",
        Map("x-identity" -> "bob"))
      rt.processAllAvailable()
      vs.refresh()
      gatewayUnderTest.foreach(_.attachViews(vs))
      // caller sees only their rows; anonymous sees nothing
      val alice = get(s"$base/table/raw", Map("x-identity" -> "alice")).body()
      assert(alice.contains("alice") && !alice.contains("bob"))
      assert(get(s"$base/table/raw").body() === "[]")
      // a view that dropped the auth field serves nothing, not everyone
      assert(get(s"$base/table/agg", Map("x-identity" -> "alice")).body() === "[]")
    }
  }

  test("channels_graph route serves module wiring; 404 when unmounted (channels_graph.py:14-59)") {
    withGateway() { (base, _) =>
      // unmounted: the route does not exist (reference mounts it as an
      // optional module)
      assert(get(s"$base/channels_graph").statusCode() === 404)
    }
    // two-module wiring over a build-phase ChannelGraph
    import graft.core.{ChannelGraph, ChannelSpec => CSpec, Module}
    import spark.implicits._
    val vSchema = StructType(Seq(StructField("v", IntegerType)))
    object Ingest extends Module {
      def connect(g: ChannelGraph): Unit = g.set("raw")(Seq(1, 2).toDF("v"))
    }
    object Enrich extends Module {
      def connect(g: ChannelGraph): Unit =
        g.transform(Seq("raw"), "enriched")(ins => ins.head)
    }
    val cg = new ChannelGraph(Map(
      "raw" -> CSpec("raw", vSchema), "enriched" -> CSpec("enriched", vSchema)))
    cg.attach(Ingest)
    cg.attach(Enrich)
    cg.finalizeGraph()
    val rt = new ChannelRuntime(spark,
      Map("example" -> ChannelSpec("example", schema)),
      Files.createTempDirectory("graft-gw-ckpt").toString)
    rt.start()
    val gw = new Gateway(rt, 0)
    gw.attachChannelsGraph(cg.connectionsGraph)
    gw.start()
    try {
      val base = s"http://127.0.0.1:${gw.boundPort}"
      val r = get(s"$base/api/v1/channels_graph")
      assert(r.statusCode() === 200)
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(r.body())
      assert(node.get("raw").get("setters").get(0).asText() === "Ingest")
      assert(node.get("raw").get("getters").get(0).asText() === "Enrich")
      assert(node.get("enriched").get("setters").get(0).asText() === "Enrich")
      assert(node.get("enriched").get("getters").size() === 0)
      // browse page embeds the same data
      val page = get(s"$base/channels_graph")
      assert(page.statusCode() === 200 && page.body().contains("Ingest"))
      // openapi records the mounted route
      assert(get(s"$base/openapi.json").body().contains("/api/v1/channels_graph"))
    } finally { gw.stop(); rt.stop() }
  }

  test("simple auth: login/session/whoami/logout lifecycle (simple.py parity)") {
    def basic(u: String, p: String): String =
      "Basic " + java.util.Base64.getEncoder.encodeToString(
        s"$u:$p".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val rt = new ChannelRuntime(spark,
      Map("example" -> ChannelSpec("example", schema, stateKeyby = Seq("owner"))),
      Files.createTempDirectory("graft-gw-ckpt").toString)
    rt.start()
    val gw = new Gateway(rt, 0, Map("example" -> "owner"),
      simpleAuthUsers = Map("alice" -> "secret")).start()
    try {
      val base = s"http://127.0.0.1:${gw.boundPort}"
      // anonymous API call is rejected with the simple-auth 401 challenge
      val anon = get(s"$base/api/v1/state/example")
      assert(anon.statusCode() === 401)
      assert(anon.headers().firstValue("WWW-Authenticate").orElse("") === "Basic")
      // invalid Basic on /login → 401 with the challenge
      val bad = get(s"$base/login", Map("Authorization" -> basic("alice", "wrong")))
      assert(bad.statusCode() === 401)
      assert(bad.headers().firstValue("WWW-Authenticate").orElse("") === "Basic")
      // bare GET renders the form-login page
      val page = get(s"$base/login")
      assert(page.statusCode() === 200 && page.body().contains("<form"))
      // valid Basic mints a session: redirect home + HttpOnly cookie
      val ok = get(s"$base/login", Map("Authorization" -> basic("alice", "secret")))
      assert(ok.statusCode() === 303)
      assert(ok.headers().firstValue("Location").orElse("") === "/")
      val setCookie = ok.headers().firstValue("Set-Cookie").orElse("")
      assert(setCookie.startsWith("session=") && setCookie.contains("HttpOnly"))
      val cookie = setCookie.split(";")(0)
      // the session authorizes API calls AND is the X13 identity:
      // alice's own rows pass, impersonating bob is rejected
      assert(post(s"$base/api/v1/send/example", """{"x":1,"owner":"alice"}""",
        Map("Cookie" -> cookie)).statusCode() === 200)
      assert(post(s"$base/api/v1/send/example", """{"x":2,"owner":"bob"}""",
        Map("Cookie" -> cookie)).statusCode() === 422)
      // whoami reports the session identity
      val who = get(s"$base/api/v1/whoami", Map("Cookie" -> cookie))
      assert(who.statusCode() === 200 && who.body().contains("alice"))
      // Basic credentials directly on an API call authorize too
      assert(get(s"$base/api/v1/state/example",
        Map("Authorization" -> basic("alice", "secret"))).statusCode() === 200)
      // form login: wrong credentials bounce back, right ones set the cookie
      val fbad = post(s"$base/login", "username=alice&password=nope",
        Map("Content-Type" -> "application/x-www-form-urlencoded"))
      assert(fbad.statusCode() === 303)
      assert(fbad.headers().firstValue("Location").orElse("").contains("error=invalid_credentials"))
      val fok = post(s"$base/login", "username=alice&password=secret",
        Map("Content-Type" -> "application/x-www-form-urlencoded"))
      assert(fok.statusCode() === 303)
      assert(fok.headers().firstValue("Set-Cookie").orElse("").startsWith("session="))
      // logout revokes the session: whoami 401, API gate closed again
      assert(get(s"$base/logout", Map("Cookie" -> cookie)).statusCode() === 303)
      assert(get(s"$base/api/v1/whoami", Map("Cookie" -> cookie)).statusCode() === 401)
      assert(get(s"$base/api/v1/state/example", Map("Cookie" -> cookie)).statusCode() === 401)
    } finally { gw.stop(); rt.stop() }
  }

  test("expired simple-auth session is rejected everywhere (mutation c01)") {
    // credential wave r15: mutant c01 (sessionUserByUuid's expiry
    // check neutered) SURVIVED the full suite — no test ever let a
    // session AGE. Mint one with a 150 ms lifetime, prove it works,
    // wait past expiry, and require the same cookie to be dead on
    // whoami, the API gate, and as an X13 write identity.
    def basic(u: String, p: String): String =
      "Basic " + java.util.Base64.getEncoder.encodeToString(
        s"$u:$p".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val rt = new ChannelRuntime(spark,
      Map("example" -> ChannelSpec("example", schema, stateKeyby = Seq("owner"))),
      Files.createTempDirectory("graft-gw-ckpt").toString)
    rt.start()
    val gw = new Gateway(rt, 0, Map("example" -> "owner"),
      simpleAuthUsers = Map("alice" -> "secret"),
      sessionTimeoutMillis = 150L).start()
    try {
      val base = s"http://127.0.0.1:${gw.boundPort}"
      val ok = get(s"$base/login", Map("Authorization" -> basic("alice", "secret")))
      assert(ok.statusCode() === 303)
      val cookie = ok.headers().firstValue("Set-Cookie").orElse("").split(";")(0)
      assert(cookie.startsWith("session="))
      // live session authorizes
      assert(get(s"$base/api/v1/whoami", Map("Cookie" -> cookie)).statusCode() === 200)
      Thread.sleep(400) // > sessionTimeoutMillis: the session has expired
      assert(get(s"$base/api/v1/whoami", Map("Cookie" -> cookie)).statusCode() === 401,
        "expired session must not answer whoami")
      assert(get(s"$base/api/v1/state/example", Map("Cookie" -> cookie)).statusCode() === 401,
        "expired session must not pass the API gate")
      assert(post(s"$base/api/v1/send/example", """{"x":1,"owner":"alice"}""",
        Map("Cookie" -> cookie)).statusCode() === 401,
        "expired session must not authenticate a write")
      // fresh Basic credentials still work (expiry is per-session)
      assert(get(s"$base/api/v1/state/example",
        Map("Authorization" -> basic("alice", "secret"))).statusCode() === 200)
    } finally { gw.stop(); rt.stop() }
  }

  test("whoami without a session is 401 even for an api-key-authorized caller (mutation s14)") {
    // the only reachable path to the whoami handler's own 401 branch:
    // a co-mounted api-key middleware authorizes the request past the
    // gate, but no simple-auth session exists — the reference's
    // /whoami still answers 401 "Session not found" (simple.py). The
    // s14 serving mutant (401 -> 200 on exactly this branch) survived
    // the full 486-test suite because no test exercised the co-mounted
    // configuration; this pins it.
    val rt = new ChannelRuntime(spark,
      Map("example" -> ChannelSpec("example", schema, stateKeyby = Seq("owner"))),
      Files.createTempDirectory("graft-gw-ckpt").toString)
    rt.start()
    val gw = new Gateway(rt, 0,
      apiKeys = Seq("k123"),
      simpleAuthUsers = Map("alice" -> "secret")).start()
    try {
      val base = s"http://127.0.0.1:${gw.boundPort}"
      // the api key passes the gate (state route answers)...
      assert(get(s"$base/api/v1/state/example", Map("token" -> "k123")).statusCode() === 200)
      // ...but whoami without a session is still 401, not 200
      val who = get(s"$base/api/v1/whoami", Map("token" -> "k123"))
      assert(who.statusCode() === 401, s"whoami sessionless must be 401, got ${who.statusCode()}")
      assert(who.body().contains("Session not found"))
    } finally { gw.stop(); rt.stop() }
  }

  test("identity row filter (X13): reads filtered, writes validated") {
    withGateway(Map("example" -> "owner")) { (base, rt) =>
      assert(post(s"$base/send/example", """{"x":1,"owner":"alice"}""",
        Map("x-identity" -> "alice")).statusCode() === 200)
      // bob cannot write alice's rows
      assert(post(s"$base/send/example", """{"x":2,"owner":"alice"}""",
        Map("x-identity" -> "bob")).statusCode() === 422)
      // omitting the auth field entirely must also be rejected
      assert(post(s"$base/send/example", """{"x":3}""",
        Map("x-identity" -> "bob")).statusCode() === 422)
      rt.processAllAvailable()
      // alice sees her row; bob sees nothing; anonymous sees nothing
      assert(get(s"$base/state/example", Map("x-identity" -> "alice")).body().contains("alice"))
      assert(get(s"$base/state/example", Map("x-identity" -> "bob")).body() === "[]")
      assert(get(s"$base/state/example").body() === "[]")
    }
  }

  test("error detail bodies stay valid JSON for quotes, backslashes, newlines and null") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val msg = "bad \"value\" at C:\\tmp\nline 2"
    assert(mapper.readTree(Gateway.detailJson(msg)).get("detail").asText() == msg)
    assert(mapper.readTree(Gateway.detailJson(null)).get("detail").asText() == "null")
    // an undeclared basket key with a quote reaches the 404 detail verbatim
    val rt = new ChannelRuntime(spark,
      Map("quotes" -> ChannelSpec("quotes", schema, basketKey = Some("owner"),
        basketKeys = Some(Seq("AAPL")))),
      Files.createTempDirectory("graft-gw-detail-ckpt").toString)
    rt.start()
    val gw = new Gateway(rt, 0).start()
    try {
      val r = get(s"http://127.0.0.1:${gw.boundPort}/api/v1/last/quotes/a%22b")
      assert(r.statusCode() == 404, r.body())
      assert(mapper.readTree(r.body()).get("detail").asText() == "Channel not found: quotes/a\"b")
    } finally { gw.stop(); rt.stop() }
  }

  /** The Jackson tree row encoder that the streaming writer replaced,
    * kept here as the byte-for-byte oracle: array elements, map values
    * and nested structs take their element type's form, dates are ISO
    * dates, decimals numbers and binary base64 (README "JSON wire form"). */
  private def treeRow(m: com.fasterxml.jackson.databind.ObjectMapper,
      r: org.apache.spark.sql.Row, schema: StructType): com.fasterxml.jackson.databind.node.ObjectNode = {
    val node = m.createObjectNode()
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      node.set[com.fasterxml.jackson.databind.JsonNode](f.name, treeValue(m, r.get(i), f.dataType))
    }
    node
  }

  private def treeValue(m: com.fasterxml.jackson.databind.ObjectMapper, v: Any,
      dt: DataType): com.fasterxml.jackson.databind.JsonNode = {
    val nf = m.getNodeFactory
    if (v == null) nf.nullNode()
    else dt match {
      case StringType => nf.textNode(v.asInstanceOf[String])
      case LongType => nf.numberNode(v.asInstanceOf[Long])
      case IntegerType => nf.numberNode(v.asInstanceOf[Int])
      case DoubleType => nf.numberNode(v.asInstanceOf[Double])
      case FloatType => nf.numberNode(v.asInstanceOf[Float].toDouble)
      case BooleanType => nf.booleanNode(v.asInstanceOf[Boolean])
      case TimestampType => nf.textNode(v.asInstanceOf[java.sql.Timestamp].toInstant.toString)
      case s: StructType => treeRow(m, v.asInstanceOf[org.apache.spark.sql.Row], s)
      case ArrayType(et, _) =>
        val arr = nf.arrayNode()
        v.asInstanceOf[scala.collection.Seq[Any]].foreach(x => arr.add(treeValue(m, x, et)))
        arr
      case MapType(_, vt, _) =>
        val obj = nf.objectNode()
        v.asInstanceOf[scala.collection.Map[String, Any]].foreach { case (k, x) =>
          obj.set[com.fasterxml.jackson.databind.JsonNode](k, treeValue(m, x, vt))
        }
        obj
      case DateType => nf.textNode(v.asInstanceOf[java.sql.Date].toLocalDate.toString)
      case _: DecimalType => nf.numberNode(v.asInstanceOf[java.math.BigDecimal])
      case BinaryType => nf.binaryNode(v.asInstanceOf[Array[Byte]])
    }
  }

  test("streaming row encoder emits the tree encoder's bytes (rows, frames, cycles, routes)") {
    import org.apache.spark.sql.Row
    import graft.streaming.{EngineLog, JsonCodec}
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    def utf8(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val inner = StructType(Seq(StructField("a", LongType), StructField("s", StringType)))
    val mschema = StructType(Seq(
      StructField("s", StringType), StructField("l", LongType), StructField("i", IntegerType),
      StructField("d", DoubleType), StructField("f", FloatType), StructField("b", BooleanType),
      StructField("ts", TimestampType), StructField("date", DateType),
      StructField("dec", DecimalType(10, 3)), StructField("st", inner),
      StructField("structs", ArrayType(inner)), StructField("longs", ArrayType(LongType)),
      StructField("ints", ArrayType(IntegerType)), StructField("dbls", ArrayType(DoubleType)),
      StructField("flts", ArrayType(FloatType)), StructField("strs", ArrayType(StringType)),
      StructField("bools", ArrayType(BooleanType)), StructField("m", MapType(StringType, LongType)),
      StructField("bin", BinaryType), StructField("tss", ArrayType(TimestampType)),
      StructField("nested", ArrayType(ArrayType(LongType)))))
    val emoji = new String(Character.toChars(0x1F600))
    val rows = Seq(
      Row(s"héllo ☃ $emoji \"q\" \\ \n\t\u0001  ", Long.MaxValue, Int.MinValue, Double.NaN,
        1.1f, true, java.sql.Timestamp.valueOf("2024-01-02 03:04:05.123456"),
        java.sql.Date.valueOf("2024-01-02"), new java.math.BigDecimal("12.345"), Row(1L, "ü"),
        Seq(Row(2L, "x"), null, Row(null, null)), Seq(1L, null, -1L), Seq(1, 2),
        Seq(0.1, Double.NaN, Double.NegativeInfinity, -0.0), Seq(1.5f, Float.NaN),
        Seq("a", null, emoji), Seq(true, false), Map("k" -> 1L), Array[Byte](0, -1, 64),
        Seq(new java.sql.Timestamp(0L), null), Seq(Seq(1L, 2L), null, Seq.empty)),
      Row(Seq.fill(mschema.length)(null): _*),
      Row("lone \uD800 surrogate", 0L, 0, Double.PositiveInfinity, -0.0f, false,
        new java.sql.Timestamp(0L), null, null, Row(null, "日本"), Seq.empty, Seq.empty, null,
        Seq(1e300, 4.9e-324), Seq.empty, Seq.empty, null, Map.empty, Array.emptyByteArray,
        Seq.empty, Seq.empty),
      Row("", -1L, 7, Double.NegativeInfinity, Float.NaN, null, null, null, null, null,
        null, null, null, null, null, null, null, null, null, null, null),
      Row("x", 1L, 1, -0.0, Float.PositiveInfinity, null, null, null, null, null,
        null, null, null, null, null, null, null, null, null, null, null))
    val treeArray = m.createArrayNode()
    rows.foreach(r => treeArray.add(treeRow(m, r, mschema)))
    assert(JsonCodec.rowsJson(rows, mschema) === utf8(m.writeValueAsString(treeArray)))
    rows.foreach { r =>
      assert(JsonCodec.jsonBytes(JsonCodec.writeRow(_, r, mschema)) ===
        utf8(m.writeValueAsString(treeRow(m, r, mschema))))
      for (key <- Seq(None, Some("AAPL"), Some(s"k$emoji"))) {
        val frame = m.createObjectNode()
        frame.put("channel", "quotes")
        key.foreach(frame.put("key", _))
        frame.set[com.fasterxml.jackson.databind.JsonNode]("data", treeRow(m, r, mschema))
        assert(Gateway.frameJson("quotes", key, r, mschema) === utf8(m.writeValueAsString(frame)))
      }
    }
    // timestamps: the hand-rolled ISO instant equals Instant.toString,
    // across years 0000..9999 and beyond, for every fraction width
    val rnd = new java.util.SplittableRandom(7)
    val instants = Seq(0L, -1L, 1L, -62167219200000L, -62167219200001L, 253402300799999L,
      253402300800000L, 951782400000L) ++ Seq.fill(20000)(rnd.nextLong(-70000000000000L, 300000000000000L))
    instants.zipWithIndex.foreach { case (ms, k) =>
      val t = new java.sql.Timestamp(ms)
      k % 4 match {
        case 0 => t.setNanos(0)
        case 1 => t.setNanos(rnd.nextInt(1000) * 1000000)
        case 2 => t.setNanos(rnd.nextInt(1000000) * 1000)
        case _ => t.setNanos(rnd.nextInt(1000000000))
      }
      val fast = JsonCodec.jsonBytes(JsonCodec.writeInstant(_, t))
      assert(fast === utf8(m.writeValueAsString(t.toInstant.toString)), t.toInstant.toString)
    }

    // an engine-log cycle, as EngineLog.Writer and the log catalog entries write it
    val root = m.createObjectNode()
    root.put("csp_engine_timestamp", 1700000000123L)
    Seq("a" -> rows.take(2), "b" -> rows.drop(2)).foreach { case (ch, rs) =>
      val arr = root.putArray(ch)
      rs.foreach(r => arr.add(treeRow(m, r, mschema)))
    }
    val out = new java.io.StringWriter()
    EngineLog.writeCycle(out, 1700000000123L,
      Seq(("a", rows.take(2), mschema), ("b", rows.drop(2), mschema)))
    assert(out.toString === m.writeValueAsString(root))

    // the live routes serve the same bytes
    val rt = new ChannelRuntime(spark,
      Map("matrix" -> ChannelSpec("matrix", mschema, stateKeyby = Seq("l"))),
      Files.createTempDirectory("graft-gw-bytes-ckpt").toString)
    rt.start()
    val gw = new Gateway(rt, 0).start()
    try {
      rt.send("matrix", rows.filter(!_.isNullAt(1)).map(r =>
        mschema.fieldNames.zipWithIndex.map { case (n, i) => n -> r.get(i) }.toMap))
      rt.processAllAvailable()
      val rtSchema = rt.runtimeSchema(rt.specs("matrix"))
      def tree(rs: Seq[Row]): Array[Byte] = {
        val arr = m.createArrayNode()
        rs.foreach(r => arr.add(treeRow(m, r, rtSchema)))
        utf8(m.writeValueAsString(arr))
      }
      def body(path: String): Array[Byte] = http.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${gw.boundPort}/api/v1/$path")).build(),
        HttpResponse.BodyHandlers.ofByteArray()).body()
      assert(rt.state("matrix").size === 4)
      assert(body("state/matrix") === tree(rt.state("matrix")))
      assert(body("last/matrix") === tree(rt.last("matrix").toSeq))
    } finally { gw.stop(); rt.stop() }
  }
}
