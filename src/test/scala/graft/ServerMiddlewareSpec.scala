package graft

import java.net.{InetSocketAddress, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.ChannelSpec
import graft.server.{Gateway, OAuthConfig}
import graft.streaming.ChannelRuntime

/** Round-8 middleware surfaces, e2e over real HTTP:
  *  - OAuth2/OIDC (reference middleware/oauth.py:23-358): discovery,
  *    login redirect, code-for-token callback → session cookie,
  *    bearer validation via userinfo AND via introspection, identity
  *    feeding X13 row filtering, 401 challenge parity;
  *  - static-field routes (modules/web/mount_fields.py:10-82);
  *  - external API-key validator hook (middleware/api_key_external.py).
  * The OIDC provider is a stub on the JDK http server — offline, like
  * the reference's mocked-issuer tests.
  */
class ServerMiddlewareSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val http = HttpClient.newHttpClient() // never follows redirects
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private val schema = StructType(Seq(
    StructField("id", StringType),
    StructField("timestamp", TimestampType),
    StructField("x", LongType),
    StructField("owner", StringType)))

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

  /** Stub OIDC provider: discovery + authorize + token + userinfo +
    * introspection. Tokens: "tok-alice"/"tok-bob" map to userinfo
    * with preferred_username alice/bob; the one valid auth code is
    * "good-code" → tok-alice. */
  private def withOidcProvider(f: String => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    def respond(ex: HttpExchange, code: Int, body: String): Unit = {
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    }
    lazy val issuer = s"http://127.0.0.1:${server.getAddress.getPort}"
    server.createContext("/.well-known/openid-configuration", (ex: HttpExchange) =>
      respond(ex, 200,
        s"""{"token_endpoint":"$issuer/oauth/token",
           |"authorization_endpoint":"$issuer/authorize",
           |"userinfo_endpoint":"$issuer/userinfo",
           |"introspection_endpoint":"$issuer/introspect"}""".stripMargin))
    server.createContext("/oauth/token", (ex: HttpExchange) => {
      val form = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      if (form.contains("grant_type=authorization_code") && form.contains("code=good-code"))
        respond(ex, 200, """{"access_token":"tok-alice","token_type":"Bearer"}""")
      else respond(ex, 400, """{"error":"invalid_grant"}""")
    })
    server.createContext("/userinfo", (ex: HttpExchange) => {
      Option(ex.getRequestHeaders.getFirst("Authorization")) match {
        case Some("Bearer tok-alice") =>
          respond(ex, 200, """{"sub":"alice-sub","preferred_username":"alice"}""")
        case Some("Bearer tok-bob") =>
          respond(ex, 200, """{"sub":"bob-sub","preferred_username":"bob"}""")
        case _ => respond(ex, 401, """{"error":"invalid_token"}""")
      }
    })
    server.createContext("/introspect", (ex: HttpExchange) => {
      val form = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      if (form.contains("token=tok-alice"))
        respond(ex, 200, """{"active":true,"preferred_username":"alice"}""")
      else respond(ex, 200, """{"active":false}""")
    })
    server.start()
    try f(issuer)
    finally server.stop(0)
  }

  private def withRuntime(f: ChannelRuntime => Unit): Unit = {
    val rt = new ChannelRuntime(spark,
      Map("example" -> ChannelSpec("example", schema, stateKeyby = Seq("owner"))),
      Files.createTempDirectory("graft-mw-ckpt").toString)
    rt.start()
    try f(rt) finally rt.stop()
  }

  test("oauth login redirect carries the code-flow parameters") {
    withOidcProvider { issuer =>
      withRuntime { rt =>
        val gw = new Gateway(rt, 0,
          oauth = Some(OAuthConfig(issuer, clientId = "graft-app"))).start()
        try {
          val r = get(s"http://127.0.0.1:${gw.boundPort}/login")
          assert(r.statusCode() === 303)
          val loc = r.headers().firstValue("Location").orElse("")
          assert(loc.startsWith(s"$issuer/authorize?"))
          assert(loc.contains("client_id=graft-app"))
          assert(loc.contains("response_type=code"))
          assert(loc.contains("redirect_uri="))
          assert(loc.contains("scope=openid"))
          assert(loc.contains("state="))

          // a configured redirect_uri is used verbatim — the Host
          // header must not steer the issuer's redirect (ADVICE r8)
          val gw2 = new Gateway(rt, 0,
            oauth = Some(OAuthConfig(issuer, clientId = "graft-app",
              redirectUri = Some("http://gw.example:8080/auth/callback")))).start()
          try {
            val r2 = get(s"http://127.0.0.1:${gw2.boundPort}/login")
            val loc2 = r2.headers().firstValue("Location").orElse("")
            // the issuer host appears (authorize endpoint), but the
            // redirect_uri itself is the configured one, not Host-derived
            assert(loc2.contains(java.net.URLEncoder.encode(
              "http://gw.example:8080/auth/callback", "UTF-8")))
          } finally gw2.stop()
        } finally gw.stop()
      }
    }
  }

  test("oauth code flow: callback mints session, identity scopes reads, logout") {
    withOidcProvider { issuer =>
      withRuntime { rt =>
        val gw = new Gateway(rt, 0,
          authFilterFields = Map("example" -> "owner"),
          oauth = Some(OAuthConfig(issuer, clientId = "graft-app",
            clientSecret = Some("s3")))).start()
        val base = s"http://127.0.0.1:${gw.boundPort}"
        try {
          // unauthorized API access: 401 with the Bearer challenge
          val anon = get(s"$base/api/v1/state/example")
          assert(anon.statusCode() === 401)
          assert(anon.headers().firstValue("WWW-Authenticate").orElse("") === "Bearer")

          // callback error shapes (oauth.py:285-291)
          assert(get(s"$base/auth/callback?error=denied").statusCode() === 400)
          assert(get(s"$base/auth/callback").statusCode() === 400)

          // CSRF gate: a callback without a gateway-minted state is
          // rejected before any code exchange (closes oauth.py:277's
          // documented "Should be stored and validated" gap)
          assert(get(s"$base/auth/callback?code=good-code").statusCode() === 400)
          assert(get(s"$base/auth/callback?code=good-code&state=forged")
            .statusCode() === 400)

          // a real login mints the state the callback must echo
          def mintState(): String = {
            val login = get(s"$base/login")
            assert(login.statusCode() === 303)
            val loc = login.headers().firstValue("Location").orElse("")
            loc.split("state=").last.split("&").head
          }
          val badState = mintState()
          assert(get(s"$base/auth/callback?code=bad-code&state=$badState")
            .statusCode() === 500)
          // states are one-shot: replaying a consumed state is rejected
          assert(get(s"$base/auth/callback?code=good-code&state=$badState")
            .statusCode() === 400)

          // the happy-path callback: code → tokens → userinfo → cookie
          val cb = get(s"$base/auth/callback?code=good-code&state=${mintState()}")
          assert(cb.statusCode() === 303)
          val setCookie = cb.headers().firstValue("Set-Cookie").orElse("")
          assert(setCookie.startsWith("oauth_session="))
          val cookie = setCookie.split(";").head

          // seed rows under two identities via the runtime directly
          rt.send("example", Seq(
            Map("x" -> 1L, "owner" -> "alice"), Map("x" -> 2L, "owner" -> "bob")))
          rt.processAllAvailable()

          // session cookie authorizes and scopes reads to alice
          val state = get(s"$base/api/v1/state/example", Map("Cookie" -> cookie))
          assert(state.statusCode() === 200)
          val rows = mapper.readTree(state.body())
          assert(rows.size() === 1 && rows.get(0).get("owner").asText() === "alice")

          // userinfo route serves the session's claims
          val info = get(s"$base/auth/userinfo", Map("Cookie" -> cookie))
          assert(info.statusCode() === 200)
          assert(mapper.readTree(info.body()).get("preferred_username").asText() === "alice")

          // logout drops the session: same cookie now unauthorized
          assert(get(s"$base/auth/logout", Map("Cookie" -> cookie)).statusCode() === 303)
          assert(get(s"$base/api/v1/state/example", Map("Cookie" -> cookie)).statusCode() === 401)
        } finally gw.stop()
      }
    }
  }

  test("expired oauth session is rejected (mutation c04)") {
    // credential wave r15: the OAuth session store's expiry check had
    // no test that let a session AGE (c01's twin on the OAuth side).
    withOidcProvider { issuer =>
      withRuntime { rt =>
        val gw = new Gateway(rt, 0,
          oauth = Some(OAuthConfig(issuer, clientId = "graft-app",
            clientSecret = Some("s3"),
            sessionTimeoutMillis = 150L))).start()
        val base = s"http://127.0.0.1:${gw.boundPort}"
        try {
          val login = get(s"$base/login")
          val state = login.headers().firstValue("Location").orElse("")
            .split("state=").last.split("&").head
          val cb = get(s"$base/auth/callback?code=good-code&state=$state")
          assert(cb.statusCode() === 303)
          val cookie = cb.headers().firstValue("Set-Cookie").orElse("").split(";").head
          assert(cookie.startsWith("oauth_session="))
          // live session authorizes
          assert(get(s"$base/api/v1/state/example",
            Map("Cookie" -> cookie)).statusCode() === 200)
          Thread.sleep(400) // > sessionTimeoutMillis
          assert(get(s"$base/api/v1/state/example",
            Map("Cookie" -> cookie)).statusCode() === 401,
            "expired oauth session must not pass the API gate")
          assert(get(s"$base/auth/userinfo",
            Map("Cookie" -> cookie)).statusCode() === 401,
            "expired oauth session must not serve userinfo")
        } finally gw.stop()
      }
    }
  }

  test("non-bearer Authorization schemes never validate as bearer (mutation c07)") {
    // credential wave r15: the bearer path must check the SCHEME, not
    // just strip to the first space — a Basic/Token header carrying a
    // string that happens to be a valid access token must not
    // authenticate (c07: scheme filter dropped).
    withOidcProvider { issuer =>
      withRuntime { rt =>
        val gw = new Gateway(rt, 0,
          oauth = Some(OAuthConfig(issuer, clientId = "graft-app"))).start()
        val base = s"http://127.0.0.1:${gw.boundPort}"
        try {
          // control: the real bearer scheme authorizes
          assert(get(s"$base/api/v1/state/example",
            Map("Authorization" -> "Bearer tok-alice")).statusCode() === 200)
          // the same valid token under any other scheme must not
          for (h <- Seq("Basic tok-alice", "Token tok-alice",
                        "Bearer-ish tok-alice", "tok-alice"))
            assert(get(s"$base/api/v1/state/example",
              Map("Authorization" -> h)).statusCode() === 401,
              s"scheme-less/mis-schemed header '$h' must not authenticate")
        } finally gw.stop()
      }
    }
  }

  test("oauth bearer token validates via userinfo and via introspection") {
    withOidcProvider { issuer =>
      withRuntime { rt =>
        rt.send("example", Seq(
          Map("x" -> 1L, "owner" -> "alice"), Map("x" -> 2L, "owner" -> "bob")))
        rt.processAllAvailable()

        // userinfo-validated bearer (no introspection configured)
        val gw1 = new Gateway(rt, 0,
          authFilterFields = Map("example" -> "owner"),
          oauth = Some(OAuthConfig(issuer, clientId = "graft-app"))).start()
        try {
          val r = get(s"http://127.0.0.1:${gw1.boundPort}/api/v1/state/example",
            Map("Authorization" -> "Bearer tok-bob"))
          assert(r.statusCode() === 200)
          val rows = mapper.readTree(r.body())
          assert(rows.size() === 1 && rows.get(0).get("owner").asText() === "bob")
          assert(get(s"http://127.0.0.1:${gw1.boundPort}/api/v1/state/example",
            Map("Authorization" -> "Bearer tok-nope")).statusCode() === 401)
        } finally gw1.stop()

        // introspection-validated bearer (active=true required)
        val gw2 = new Gateway(rt, 0,
          oauth = Some(OAuthConfig(issuer, clientId = "graft-app",
            clientSecret = Some("s3"),
            introspectionUrl = Some(s"$issuer/introspect")))).start()
        try {
          assert(get(s"http://127.0.0.1:${gw2.boundPort}/api/v1/last/example",
            Map("Authorization" -> "Bearer tok-alice")).statusCode() === 200)
          // tok-bob is valid for userinfo but NOT active per introspection
          assert(get(s"http://127.0.0.1:${gw2.boundPort}/api/v1/last/example",
            Map("Authorization" -> "Bearer tok-bob")).statusCode() === 401)
        } finally gw2.stop()
      }
    }
  }

  test("static-field routes: listing, value shapes, 404 unknown") {
    withRuntime { rt =>
      val gw = new Gateway(rt, 0, staticFields = Map(
        "config_version" -> 7L,
        "universe" -> Seq("AAPL", "MSFT"),
        "limits" -> Map("max_notional" -> 1000000L, "region" -> "us"))).start()
      val base = s"http://127.0.0.1:${gw.boundPort}/api/v1"
      try {
        val listing = mapper.readTree(get(s"$base/field").body())
        assert(listing.size() === 3 && listing.get(0).asText() === "config_version")
        assert(get(s"$base/field/config_version").body() === "7")
        assert(get(s"$base/field/universe").body() === """["AAPL","MSFT"]""")
        val limits = mapper.readTree(get(s"$base/field/limits").body())
        assert(limits.get("max_notional").asLong() === 1000000L)
        val missing = get(s"$base/field/ghost")
        assert(missing.statusCode() === 404)
        assert(missing.body().contains("Channel field not found: ghost"))
        // field routes surface in the openapi document
        val doc = mapper.readTree(
          get(s"http://127.0.0.1:${gw.boundPort}/openapi.json").body())
        assert(doc.get("paths").has("/api/v1/field/universe"))
      } finally gw.stop()
    }
  }

  test("outputs-folder browser: listing, file stream, traversal guard") {
    withRuntime { rt =>
      val root = Files.createTempDirectory("graft-outputs")
      Files.createDirectory(root.resolve("run1"))
      Files.write(root.resolve("run1/app.log"), "hello log".getBytes)
      Files.write(root.resolve("config.txt"), "k=v".getBytes)
      val gw = new Gateway(rt, 0)
      gw.attachOutputsFolder(root.toString)
      gw.start()
      val base = s"http://127.0.0.1:${gw.boundPort}"
      try {
        // directory listing with links
        val listing = get(s"$base/outputs")
        assert(listing.statusCode() === 200)
        assert(listing.body().contains("config.txt") && listing.body().contains("run1"))
        // nested file streams with a browser-viewable text type
        val log = get(s"$base/outputs/run1/app.log")
        assert(log.statusCode() === 200 && log.body() === "hello log")
        assert(log.headers().firstValue("Content-Type").orElse("").startsWith("text/plain"))
        // traversal is contained; unknown path 404s
        assert(get(s"$base/outputs/../../etc/passwd").statusCode() === 404)
        assert(get(s"$base/outputs/ghost.txt").statusCode() === 404)
      } finally gw.stop()
    }
  }

  test("external api-key validator hook: custom accept/reject + identity") {
    withRuntime { rt =>
      rt.send("example", Seq(
        Map("x" -> 1L, "owner" -> "svc-a"), Map("x" -> 2L, "owner" -> "svc-b")))
      rt.processAllAvailable()
      // the hook: keys of the form "key-<identity>" validate
      val gw = new Gateway(rt, 0,
        authFilterFields = Map("example" -> "owner"),
        apiKeyValidator = Some(k =>
          if (k.startsWith("key-")) Some(k.stripPrefix("key-")) else None)).start()
      val base = s"http://127.0.0.1:${gw.boundPort}/api/v1"
      try {
        // accepted key authorizes AND becomes the row-filter identity
        val r = get(s"$base/state/example?token=key-svc-a")
        assert(r.statusCode() === 200)
        val rows = mapper.readTree(r.body())
        assert(rows.size() === 1 && rows.get(0).get("owner").asText() === "svc-a")
        // header transport works too
        assert(get(s"$base/state/example", Map("token" -> "key-svc-b")).statusCode() === 200)
        // rejected key → 403 (api-key middleware rejection semantics)
        assert(get(s"$base/state/example?token=nope").statusCode() === 403)
        assert(get(s"$base/state/example").statusCode() === 403)

        // the same gate and identity hold on the websocket: the client's
        // handshake carries its key like its REST calls do
        def client(key: Option[String]) = new graft.client.GatewayClient(
          graft.client.GatewayClientConfig(host = "127.0.0.1", port = gw.boundPort,
            apiKey = key, wsPort = Some(gw.wsPort)))
        val stream = client(Some("key-svc-a")).connect(Seq(("example", None)))
        try {
          assert(stream.take().isDefined) // a heartbeat: the subscription has landed
          rt.send("example", Seq(
            Map("x" -> 3L, "owner" -> "svc-b"), Map("x" -> 4L, "owner" -> "svc-a")))
          rt.processAllAvailable()
          assert(stream.takeData(10000).exists(_.get("data").get("x").asLong() == 4L))
          assert(stream.takeData(1500).isEmpty, "svc-b's row must not reach svc-a")
        } finally stream.close()
        intercept[graft.client.ServerUnknownException](
          client(None).connect(connectTimeoutMillis = 0))
      } finally gw.stop()
    }
  }

  test("identity resolved once per exchange: validator not called twice") {
    withRuntime { rt =>
      rt.send("example", Seq(Map("x" -> 1L, "owner" -> "svc-a")))
      rt.processAllAvailable()
      // external validation can be a remote round trip — the gate and
      // the X13 filter must share one resolution per request (ADVICE r8)
      val calls = new java.util.concurrent.atomic.AtomicInteger(0)
      val gw = new Gateway(rt, 0,
        authFilterFields = Map("example" -> "owner"),
        apiKeyValidator = Some { k =>
          calls.incrementAndGet()
          if (k.startsWith("key-")) Some(k.stripPrefix("key-")) else None
        }).start()
      try {
        val r = get(s"http://127.0.0.1:${gw.boundPort}/api/v1/state/example?token=key-svc-a")
        assert(r.statusCode() === 200)
        assert(calls.get() === 1)
      } finally gw.stop()
    }
  }
}
