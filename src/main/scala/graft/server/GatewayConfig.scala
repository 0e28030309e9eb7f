package graft.server

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

import graft.core.ChannelSpec
import graft.streaming.{ChannelRuntime, JsonCodec}

/** Config-file gateway construction — the reference launches from
  * declarative configs (`server/config/gateway/demo.yaml`: channel
  * set, modules, PORT; loaded by `config.load_gateway`, e2e-tested in
  * `tests/config/test_load.py`). The Spark-first analogue is a JSON
  * document (Jackson is already on the serving classpath; no new
  * dependencies):
  *
  * {{{
  * {
  *   "port": 8080,
  *   "distributedState": false,
  *   "channels": [
  *     {"name": "example",
  *      "fields": [{"name": "id", "type": "string"},
  *                 {"name": "timestamp", "type": "timestamp"},
  *                 {"name": "x", "type": "long"},
  *                 {"name": "tags", "type": "array<string>"},
  *                 {"name": "user", "type": "string"}],
  *      "stateKeyby": ["x"],
  *      "basketKey": "y", "basketKeys": ["a", "b"],
  *      "omitFromLookup": false, "lookupMaxEntries": 100000}
  *   ],
  *   "authField": {"example": "user"}
  * }
  * }}}
  */
object GatewayConfig {

  private val mapper = new ObjectMapper()
  // the reference launches from hydra YAML (csp-gateway-start,
  // server/config/gateway/demo.yaml); jackson-dataformat-yaml ships on
  // the Spark classpath, so the same config tree loads from either
  // syntax — one parser swap, identical semantics downstream
  private val yamlMapper = new ObjectMapper(new YAMLFactory())

  /** `long|int|double|float|boolean|string|timestamp|date|binary` plus
    * `array<T>` nesting. */
  def parseType(s: String): DataType = s.trim match {
    case "long" => LongType
    case "int" | "integer" => IntegerType
    case "double" => DoubleType
    case "float" => FloatType
    case "boolean" | "bool" => BooleanType
    case "string" | "str" => StringType
    case "timestamp" | "datetime" => TimestampType
    case "date" => DateType
    case "binary" => BinaryType
    case a if a.startsWith("array<") && a.endsWith(">") =>
      ArrayType(parseType(a.stripPrefix("array<").stripSuffix(">")))
    case other =>
      throw new IllegalArgumentException(s"Unsupported field type '$other'")
  }

  def parseSpec(n: JsonNode): ChannelSpec = {
    require(n.hasNonNull("name") && n.has("fields"),
      "channel config needs 'name' and 'fields'")
    val fields = n.get("fields").elements().asScala.map { f =>
      StructField(f.get("name").asText(), parseType(f.get("type").asText()),
        nullable = !f.path("required").asBoolean(false))
    }.toArray
    def strSeq(key: String): Seq[String] =
      if (n.has(key)) n.get(key).elements().asScala.map(_.asText()).toSeq else Nil
    ChannelSpec(
      name = n.get("name").asText(),
      schema = StructType(fields),
      basketKey = Option(n.get("basketKey")).filter(_.isTextual).map(_.asText()),
      basketKeys = if (n.has("basketKeys")) Some(strSeq("basketKeys")) else None,
      stateKeyby = strSeq("stateKeyby"),
      omitFromLookup = n.path("omitFromLookup").asBoolean(false),
      lookupMaxEntries = n.path("lookupMaxEntries").asInt(1 << 20),
      required = n.path("required").asBoolean(true))
  }

  final case class Loaded(runtime: ChannelRuntime, gateway: Gateway, port: Int)

  /** Build (but do not start) the runtime + gateway from a config
    * document. `checkpointDir` defaults to the runtime's own temp dir,
    * like the reference's per-run output dir, deleted on `stop()`.
    */
  def load(spark: SparkSession, doc: String,
      checkpointDir: Option[String] = None,
      onShutdown: () => Unit = () => (),
      yaml: Boolean = false): Loaded = {
    val root = (if (yaml) yamlMapper else mapper).readTree(doc)
    val specList = root.path("channels").elements().asScala.map(parseSpec).toSeq
    val dupes = specList.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
    require(dupes.isEmpty,
      s"config declares duplicate channel name(s): ${dupes.mkString(", ")}")
    val specs = specList.map(s => s.name -> s).toMap
    require(specs.nonEmpty, "config declares no channels")
    val port = root.path("port").asInt(0)
    val auth: Map[String, String] =
      if (root.has("authField"))
        root.get("authField").properties().asScala
          .map(e => e.getKey -> e.getValue.asText()).toMap
      else Map.empty
    RequestContract.checkAuthFields(specs, auth)
    val distributedState = root.path("distributedState").asBoolean(false)
    val runtime = new ChannelRuntime(spark, specs, checkpointDir, distributedState)
    val apiKeys: Seq[String] =
      if (root.has("apiKeys"))
        root.get("apiKeys").elements().asScala.map(_.asText()).toSeq
      else Nil
    // simple auth (reference MountSimpleAuthMiddleware):
    //   "simpleAuthUsers": {"alice": "secret"}, optional
    //   "sessionTimeoutMillis" / "sessionCookieName"
    val simpleAuthUsers: Map[String, String] =
      if (root.has("simpleAuthUsers"))
        root.get("simpleAuthUsers").properties().asScala
          .map(e => e.getKey -> e.getValue.asText()).toMap
      else Map.empty
    val sessionTimeoutMillis = root.path("sessionTimeoutMillis")
      .asLong(12L * 3600 * 1000)
    val sessionCookieName = root.path("sessionCookieName").asText("session")
    // declarative table mounts (reference PerspectiveModule tables):
    //   "tables": [{"name": "t", "channel": "ch", "view": {…}}]
    // parsed and VALIDATED before the Gateway binds its socket — a bad
    // table entry must not leak a bound HttpServer the caller never
    // receives (a fixed port would then BindException until JVM exit)
    val tableMounts: Seq[(String, String, graft.operators.ViewConfig)] =
      if (!root.has("tables")) Nil
      else root.get("tables").elements().asScala.map { tn =>
        require(tn.hasNonNull("name") && tn.hasNonNull("channel"),
          "table config needs 'name' and 'channel'")
        val cfg =
          if (tn.has("view")) graft.operators.Views.fromJson(tn.get("view").toString)
          else graft.operators.ViewConfig()
        (tn.get("name").asText(), tn.get("channel").asText(), cfg)
      }.toSeq
    // OAuth2/OIDC middleware (reference MountOAuth2Middleware):
    //   "oauth": {"issuer": "...", "clientId": "...", "clientSecret":
    //             "...", "scopes": [...], "introspectionUrl": "...",
    //             "identityClaim": "preferred_username"}
    val oauth: Option[OAuthConfig] =
      if (!root.has("oauth")) None
      else {
        val o = root.get("oauth")
        require(o.hasNonNull("issuer") && o.hasNonNull("clientId"),
          "oauth config needs 'issuer' and 'clientId'")
        def opt(k: String): Option[String] =
          Option(o.get(k)).filter(_.isTextual).map(_.asText())
        Some(OAuthConfig(
          issuer = o.get("issuer").asText(),
          clientId = o.get("clientId").asText(),
          clientSecret = opt("clientSecret"),
          scopes =
            if (o.has("scopes")) o.get("scopes").elements().asScala.map(_.asText()).toSeq
            else Seq("openid", "profile", "email"),
          tokenUrl = opt("tokenUrl"),
          authorizeUrl = opt("authorizeUrl"),
          userinfoUrl = opt("userinfoUrl"),
          introspectionUrl = opt("introspectionUrl"),
          identityClaim = o.path("identityClaim").asText("preferred_username"),
          cookieName = o.path("cookieName").asText("oauth_session"),
          sessionTimeoutMillis = o.path("sessionTimeoutMillis").asLong(12L * 3600 * 1000)))
      }
    // static-field routes (reference MountFieldRestRoutes):
    //   "staticFields": {"universe": ["AAPL"], "config_version": 7}
    val staticFields: Map[String, Any] =
      if (!root.has("staticFields")) Map.empty
      else root.get("staticFields").properties().asScala
        .map(e => e.getKey -> JsonCodec.jsonValue(e.getValue)).toMap
    val gateway = new Gateway(runtime, port, auth, onShutdown, apiKeys,
      simpleAuthUsers, sessionTimeoutMillis, sessionCookieName,
      oauth = oauth, staticFields = staticFields)
    // outputs-folder browser (reference MountOutputsFolder): "outputsDir"
    Option(root.get("outputsDir")).filter(_.isTextual)
      .foreach(d => gateway.attachOutputsFolder(d.asText()))
    if (tableMounts.nonEmpty) {
      val vs = new graft.sinks.ViewServer(runtime)
      tableMounts.foreach { case (name, channel, cfg) => vs.define(name, channel, cfg) }
      // reference update_interval (2 s default); the refresh loop is
      // owned by the gateway: started by gateway.start() (after the
      // runtime is live), interrupted by gateway.stop()
      gateway.attachViews(vs,
        refreshMillis = Some(root.path("viewRefreshMillis").asLong(2000L)))
    }
    Loaded(runtime, gateway, port)
  }

  /** Load a config file; `.yaml`/`.yml` extensions parse as YAML
    * (reference launch format), anything else as JSON. */
  def loadFile(spark: SparkSession, path: String,
      checkpointDir: Option[String] = None,
      onShutdown: () => Unit = () => ()): Loaded =
    load(spark, new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8),
      checkpointDir, onShutdown,
      yaml = path.endsWith(".yaml") || path.endsWith(".yml"))
}
