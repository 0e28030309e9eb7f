package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.server.GatewayConfig

class GatewayConfigSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val config =
    """{
      |  "port": 0,
      |  "channels": [
      |    {"name": "example",
      |     "fields": [{"name": "id", "type": "string"},
      |                {"name": "timestamp", "type": "timestamp"},
      |                {"name": "x", "type": "long"},
      |                {"name": "tags", "type": "array<string>"}],
      |     "stateKeyby": ["x"]},
      |    {"name": "basket",
      |     "fields": [{"name": "id", "type": "string"},
      |                {"name": "timestamp", "type": "timestamp"},
      |                {"name": "k", "type": "string"}],
      |     "basketKey": "k", "basketKeys": ["a", "b"],
      |     "omitFromLookup": true, "lookupMaxEntries": 7}
      |  ]
      |}""".stripMargin

  test("YAML config loads identically to JSON (reference launch format)") {
    val yaml =
      """port: 0
        |channels:
        |  - name: example
        |    stateKeyby: [x]
        |    fields:
        |      - {name: id, type: string}
        |      - {name: timestamp, type: timestamp}
        |      - {name: x, type: long}
        |      - {name: tags, type: "array<string>"}
        |      - {name: user, type: string}
        |authField:
        |  example: user
        |""".stripMargin
    val f = java.nio.file.Files.createTempFile("graft-gw", ".yaml")
    java.nio.file.Files.writeString(f, yaml)
    val loaded = GatewayConfig.loadFile(spark, f.toString)
    val ex = loaded.runtime.specs("example")
    assert(ex.schema.fieldNames.toSeq === Seq("id", "timestamp", "x", "tags", "user"))
    assert(ex.schema("tags").dataType === ArrayType(StringType))
    assert(ex.stateKeyby === Seq("x"))
  }

  test("config-mounted tables serve at /table with periodic refresh") {
    val cfg =
      """{
        |  "port": 0,
        |  "channels": [
        |    {"name": "ch",
        |     "fields": [{"name": "id", "type": "string"},
        |                {"name": "timestamp", "type": "timestamp"},
        |                {"name": "k", "type": "string"},
        |                {"name": "x", "type": "long"}],
        |     "stateKeyby": ["k"]}],
        |  "tables": [{"name": "by_k", "channel": "ch",
        |              "view": {"group_by": ["k"],
        |                       "aggregates": {"mx": {"col": "x", "fn": "max"}}}}],
        |  "viewRefreshMillis": 100
        |}""".stripMargin
    val loaded = GatewayConfig.load(spark, cfg)
    loaded.runtime.start()
    val gw = loaded.gateway.start()
    try {
      loaded.runtime.send("ch", Seq(Map[String, Any]("k" -> "a", "x" -> 7L)))
      loaded.runtime.processAllAvailable()
      val http = HttpClient.newHttpClient()
      def body(path: String) = http.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:${gw.boundPort}/api/v1$path")).build(),
        HttpResponse.BodyHandlers.ofString()).body()
      assert(body("/table") === """["by_k"]""")
      val deadline = System.currentTimeMillis() + 15000
      var b = body("/table/by_k")
      while (!b.contains("\"mx\":7") && System.currentTimeMillis() < deadline) {
        Thread.sleep(100); b = body("/table/by_k")
      }
      assert(b.contains("\"k\":\"a\"") && b.contains("\"mx\":7"))
    } finally { loaded.gateway.stop(); loaded.runtime.stop() }
  }

  test("config parses channel specs: types, keyby, basket, lookup options") {
    val loaded = GatewayConfig.load(spark, config)
    val ex = loaded.runtime.specs("example")
    assert(ex.schema.fieldNames.toSeq === Seq("id", "timestamp", "x", "tags"))
    assert(ex.schema("tags").dataType === ArrayType(StringType))
    assert(ex.schema("timestamp").dataType === TimestampType)
    assert(ex.stateKeyby === Seq("x"))
    val bk = loaded.runtime.specs("basket")
    assert(bk.basketKey === Some("k") && bk.basketKeys === Some(Seq("a", "b")))
    assert(bk.omitFromLookup && bk.lookupMaxEntries === 7)
    intercept[IllegalArgumentException] {
      GatewayConfig.parseType("complex128")
    }
  }

  test("an authField naming a column the channel lacks is rejected at load") {
    val bad = config.replace("\"port\": 0,", "\"port\": 0, \"authField\": {\"example\": \"owner\"},")
    val e = intercept[IllegalArgumentException](GatewayConfig.load(spark, bad))
    assert(e.getMessage.contains("auth field 'owner'"))
    // the Gateway constructor holds the same rule for code-built gateways
    val rt = new graft.streaming.ChannelRuntime(spark, Map("example" ->
      graft.core.ChannelSpec("example", StructType(Seq(StructField("x", LongType))))))
    intercept[IllegalArgumentException](new graft.server.Gateway(rt, 0, Map("example" -> "owner")))
  }

  test("api-key auth: 403 without a key; query/header/cookie all accepted") {
    val secured = config.replace("\"port\": 0,", "\"port\": 0, \"apiKeys\": [\"s3cret\"],")
    val loaded = GatewayConfig.load(spark, secured)
    loaded.runtime.start()
    val gw = loaded.gateway.start()
    try {
      val base = s"http://localhost:${gw.boundPort}"
      val client = HttpClient.newHttpClient()
      def get(url: String, hdrs: (String, String)*): HttpResponse[String] = {
        val b = HttpRequest.newBuilder(URI.create(url)).GET()
        hdrs.foreach { case (k, v) => b.header(k, v) }
        client.send(b.build(), HttpResponse.BodyHandlers.ofString())
      }
      assert(get(s"$base/api/v1/last/example").statusCode() === 403)
      assert(get(s"$base/api/v1/last/example").body().contains("unauthorized"))
      assert(get(s"$base/openapi.json").statusCode() === 403)
      assert(get(s"$base/api/v1/last/example?token=s3cret").statusCode() === 200)
      assert(get(s"$base/api/v1/last/example", "token" -> "s3cret").statusCode() === 200)
      assert(get(s"$base/api/v1/last/example",
        "Cookie" -> "other=1; token=s3cret").statusCode() === 200)
      assert(get(s"$base/api/v1/last/example?token=wrong").statusCode() === 403)
    } finally {
      gw.stop(); loaded.runtime.stop()
    }
  }

  test("simple auth from the config document: Basic login mints a working session") {
    val secured = config.replace("\"port\": 0,",
      "\"port\": 0, \"simpleAuthUsers\": {\"alice\": \"pw\"}, \"sessionTimeoutMillis\": 60000,")
    val loaded = GatewayConfig.load(spark, secured)
    loaded.runtime.start()
    val gw = loaded.gateway.start()
    try {
      val base = s"http://localhost:${gw.boundPort}"
      val client = HttpClient.newHttpClient()
      def get(url: String, hdrs: (String, String)*): HttpResponse[String] = {
        val b = HttpRequest.newBuilder(URI.create(url)).GET()
        hdrs.foreach { case (k, v) => b.header(k, v) }
        client.send(b.build(), HttpResponse.BodyHandlers.ofString())
      }
      assert(get(s"$base/api/v1/last/example").statusCode() === 401)
      val basic = "Basic " + java.util.Base64.getEncoder
        .encodeToString("alice:pw".getBytes("UTF-8"))
      val login = get(s"$base/login", "Authorization" -> basic)
      assert(login.statusCode() === 303)
      val cookie = login.headers().firstValue("Set-Cookie").orElse("").split(";")(0)
      assert(cookie.startsWith("session="))
      assert(get(s"$base/api/v1/last/example", "Cookie" -> cookie).statusCode() === 200)
    } finally {
      gw.stop(); loaded.runtime.stop()
    }
  }

  test("config-loaded gateway serves end-to-end: send then last over HTTP") {
    val loaded = GatewayConfig.load(spark, config)
    loaded.runtime.start()
    val gw = loaded.gateway.start()
    try {
      val base = s"http://localhost:${gw.boundPort}/api/v1"
      val client = HttpClient.newHttpClient()
      val post = HttpRequest.newBuilder(URI.create(s"$base/send/example"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString("""{"x": 7, "tags": ["t1"]}"""))
        .build()
      val pr = client.send(post, HttpResponse.BodyHandlers.ofString())
      assert(pr.statusCode() === 200, pr.body())
      loaded.runtime.processAllAvailable()
      val lr = client.send(
        HttpRequest.newBuilder(URI.create(s"$base/last/example")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(lr.statusCode() === 200)
      assert(lr.body().contains("\"x\":7") && lr.body().contains("t1"), lr.body())
    } finally {
      gw.stop(); loaded.runtime.stop()
    }
  }

  test("round-8 middlewares from config: oauth, static fields, outputs dir") {
    val outDir = java.nio.file.Files.createTempDirectory("graft-cfg-out")
    java.nio.file.Files.write(outDir.resolve("run.log"), "cfg log".getBytes)
    val cfg =
      s"""{
         |  "port": 0,
         |  "channels": [
         |    {"name": "example",
         |     "fields": [{"name": "id", "type": "string"},
         |                {"name": "timestamp", "type": "timestamp"},
         |                {"name": "x", "type": "long"}]}
         |  ],
         |  "oauth": {"issuer": "http://idp.invalid", "clientId": "graft-app",
         |            "authorizeUrl": "http://idp.invalid/authorize",
         |            "tokenUrl": "http://idp.invalid/token",
         |            "userinfoUrl": "http://idp.invalid/userinfo"},
         |  "staticFields": {"config_version": 7,
         |                   "universe": ["AAPL", "MSFT"]},
         |  "outputsDir": "${outDir.toString.replace("\\", "/")}"
         |}""".stripMargin
    val loaded = GatewayConfig.load(spark, cfg)
    loaded.runtime.start()
    val gw = loaded.gateway.start()
    try {
      val base = s"http://localhost:${gw.boundPort}"
      val client = HttpClient.newHttpClient()
      def get(url: String, hs: (String, String)*): HttpResponse[String] = {
        val b = HttpRequest.newBuilder(URI.create(url)).GET()
        hs.foreach { case (k, v) => b.header(k, v) }
        client.send(b.build(), HttpResponse.BodyHandlers.ofString())
      }
      // oauth mounted -> anonymous API access gets the 401 challenge
      assert(get(s"$base/api/v1/last/example").statusCode() === 401)
      // /login redirects to the configured authorize endpoint (no
      // discovery needed: explicit URLs in the config)
      val login = get(s"$base/login")
      assert(login.statusCode() === 303)
      assert(login.headers().firstValue("Location").orElse("")
        .startsWith("http://idp.invalid/authorize?"))
      // static fields and outputs mount too, behind the same gate;
      // x-identity does not authorize, so use a whoami-free check:
      // the 401 shows the routes are gated, not absent
      assert(get(s"$base/api/v1/field/config_version").statusCode() === 401)
      assert(get(s"$base/outputs/run.log").statusCode() === 401)
    } finally {
      gw.stop(); loaded.runtime.stop()
    }
  }

  test("static fields + outputs dir serve when no auth is mounted") {
    val outDir = java.nio.file.Files.createTempDirectory("graft-cfg-out2")
    java.nio.file.Files.write(outDir.resolve("run.log"), "cfg log".getBytes)
    val cfg =
      s"""{
         |  "port": 0,
         |  "channels": [
         |    {"name": "example",
         |     "fields": [{"name": "id", "type": "string"},
         |                {"name": "timestamp", "type": "timestamp"},
         |                {"name": "x", "type": "long"}]}
         |  ],
         |  "staticFields": {"config_version": 7,
         |                   "limits": {"region": "us"}},
         |  "outputsDir": "${outDir.toString.replace("\\", "/")}"
         |}""".stripMargin
    val loaded = GatewayConfig.load(spark, cfg)
    loaded.runtime.start()
    val gw = loaded.gateway.start()
    try {
      val base = s"http://localhost:${gw.boundPort}"
      val client = HttpClient.newHttpClient()
      def get(url: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
          HttpResponse.BodyHandlers.ofString())
      assert(get(s"$base/api/v1/field/config_version").body() === "7")
      assert(get(s"$base/api/v1/field/limits").body() === """{"region":"us"}""")
      assert(get(s"$base/outputs/run.log").body() === "cfg log")
    } finally {
      gw.stop(); loaded.runtime.stop()
    }
  }
}
