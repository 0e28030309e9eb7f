package graft.server

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.core.ChannelSpec
import graft.streaming.{ChannelRuntime, JsonCodec}

/** What a transport knows of a request before the contract runs: the
  * raw query string and a case-insensitive header lookup. A REST
  * exchange and a WebSocket handshake both supply one. */
private[server] final class RequestView(rawQuery: String, headerOf: String => Option[String]) {
  def header(name: String): Option[String] = headerOf(name)

  /** First `name=` query parameter, URL-decoded. */
  def query(name: String): Option[String] =
    Option(rawQuery).flatMap(_.split("&").collectFirst {
      case kv if kv.startsWith(name + "=") =>
        java.net.URLDecoder.decode(kv.stripPrefix(name + "="), "UTF-8")
    })

  def cookie(name: String): Option[String] =
    header("Cookie").flatMap(_.split(";").map(_.trim).collectFirst {
      case kv if kv.startsWith(name + "=") => kv.stripPrefix(name + "=")
    })
}

/** A refused request: the status and the challenge to send with it. */
private[server] final case class Refusal(status: Int, challenge: Option[String])

/** The request contract that REST, SSE and WebSocket share, so that
  * each transport only does its own framing — the reference's auth
  * middleware plus its X13 per-identity filter (auth_filter.py), which
  * filters "REST responses, websocket frames, and validate[s] on send":
  *
  *  - [[admit]] is the one auth gate. It authorizes a request and
  *    resolves its identity once;
  *  - [[sendRows]] is the one send decoder, from a send's JSON `data`
  *    to the field maps `ChannelRuntime.send` takes, with the X13 write
  *    check;
  *  - [[visible]] is the one ownership rule for every row served.
  *
  * Middlewares compose any-one-passes, like the reference: api-key
  * (`token` from query, header or cookie), simple auth (session cookie
  * or Basic), OAuth (session cookie or bearer) and the external key
  * validator. The username or validated identity is the X13 identity;
  * an explicit `x-identity` header overrides it.
  */
private[server] final class RequestContract(
    runtime: ChannelRuntime,
    authFilterFields: Map[String, String],
    apiKeys: Seq[String],
    simpleAuthUsers: Map[String, String],
    sessionTimeoutMillis: Long,
    sessionCookieName: String,
    oauth: Option[OAuthSupport],
    apiKeyValidator: Option[String => Option[String]]) {

  RequestContract.checkAuthFields(runtime.specs, authFilterFields)

  // ---- the auth gate ------------------------------------------------------

  private val authDisabled =
    apiKeys.isEmpty && simpleAuthUsers.isEmpty && oauth.isEmpty && apiKeyValidator.isEmpty

  /** 403 is the API-key middleware's rejection (api_key.py); session
    * mounts alone (simple auth, OAuth) answer 401 with their challenge
    * (simple.py's / oauth.py's auth_error_handler). */
  private val refusal =
    if (apiKeys.isEmpty && apiKeyValidator.isEmpty && (simpleAuthUsers.nonEmpty || oauth.nonEmpty))
      Refusal(401, Some(if (simpleAuthUsers.nonEmpty) "Basic" else "Bearer"))
    else Refusal(403, None)

  /** All `token` credentials: query parameter, header, then cookie
    * (reference api_key.py:46-59 extraction order). */
  private def tokens(req: RequestView): Seq[String] =
    Seq(req.query("token"), req.header("token"), req.cookie("token")).flatten

  /** Authorize `req`. Right carries its X13 identity: `x-identity` if
    * sent, else the authenticated principal. */
  def admit(req: RequestView): Either[Refusal, Option[String]] = {
    // resolved at most once per request: the OAuth bearer and the
    // external validator may be network round trips (ADVICE r8)
    lazy val principal = simpleAuthUser(req)
      .orElse(oauth.flatMap(o => o.identityFrom(req.cookie(o.cookieName), req.header("Authorization"))))
      .orElse(apiKeyValidator.flatMap(v => tokens(req).iterator.map(v).collectFirst { case Some(id) => id }))
    if (authDisabled || (apiKeys.nonEmpty && tokens(req).exists(apiKeys.contains)) || principal.nonEmpty)
      Right(req.header("x-identity").orElse(principal))
    else Left(refusal)
  }

  // ---- simple-auth sessions (reference middleware/simple.py) ------------

  /** `identity_store`: session UUID → (username, expiry). */
  private val sessions =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()

  /** Simple-auth identity: session cookie first, then Basic (reference
    * get_identity_from_credentials ordering). */
  def simpleAuthUser(req: RequestView): Option[String] =
    if (simpleAuthUsers.isEmpty) None
    else req.cookie(sessionCookieName).flatMap(sessionUser)
      .orElse(req.header("Authorization").flatMap(basicUser))

  /** Live (unexpired) session's user; an expired entry is purged. */
  private def sessionUser(uuid: String): Option[String] =
    Option(sessions.get(uuid)).flatMap { case (user, expires) =>
      if (System.currentTimeMillis() <= expires) Some(user)
      else { sessions.remove(uuid); None }
    }

  /** Username for a valid `Authorization: Basic …` header value. */
  def basicUser(header: String): Option[String] =
    Option(header).filter(_.startsWith("Basic ")).flatMap { h =>
      try {
        val decoded = new String(
          java.util.Base64.getDecoder.decode(h.stripPrefix("Basic ").trim),
          StandardCharsets.UTF_8)
        decoded.split(":", 2) match {
          // constant-time compare: a naive String.equals leaks the
          // matching prefix length through response timing
          case Array(u, p) if simpleAuthUsers.get(u).exists(expect =>
            java.security.MessageDigest.isEqual(
              expect.getBytes(StandardCharsets.UTF_8),
              p.getBytes(StandardCharsets.UTF_8))) => Some(u)
          case _ => None
        }
      } catch { case NonFatal(_) => None }
    }

  def createSession(user: String): String = {
    // sweep expired entries here: lazy lookup-purge alone never frees
    // sessions whose uuid is simply abandoned, a slow leak on a
    // long-lived gateway; one O(live sessions) pass per login is cheap
    val now = System.currentTimeMillis()
    sessions.entrySet().removeIf(e => e.getValue._2 < now)
    val uuid = java.util.UUID.randomUUID().toString
    sessions.put(uuid, (user, now + sessionTimeoutMillis))
    uuid
  }

  def dropSession(uuid: String): Unit = sessions.remove(uuid)

  // ---- send decoding and the X13 ownership rule -------------------------

  /** The field maps `ChannelRuntime.send` takes for a send of `data`
    * (one object or an array of them) to `channel`: values decoded by
    * [[JsonCodec.jsonValue]], the basket key injected as the key column,
    * and the X13 write check applied — every row must carry the
    * caller's identity in the channel's auth field. */
  def sendRows(channel: String, data: JsonNode, key: Option[String],
      identity: Option[String]): Seq[Map[String, Any]] = {
    val objs = if (data != null && data.isArray) data.elements().asScala.toSeq else Seq(data)
    val keyCol = runtime.specs(channel).basketKey
    val rows = objs.map { o =>
      if (o == null || !o.isObject)
        throw new IllegalArgumentException(
          s"send to '$channel' expects a JSON object or an array of objects")
      val m = JsonCodec.jsonValue(o).asInstanceOf[Map[String, Any]]
      (keyCol, key) match {
        case (Some(col), Some(k)) => m + (col -> k)
        case _                    => m
      }
    }
    authFilterFields.get(channel).foreach { field =>
      // the auth field must be PRESENT and equal — a row omitting it
      // must not slip past validation
      identity match {
        case Some(id) if rows.forall(_.get(field).exists(v => String.valueOf(v) == id)) => ()
        case _ => throw new IllegalArgumentException(s"identity mismatch on '$field'")
      }
    }
    rows
  }

  /** X13 on every egress: the rows of `channel`, laid out by `schema`,
    * whose auth field equals `identity`. A channel without an auth
    * field gets `rows` itself, uncopied. */
  def visible(channel: String, schema: StructType, identity: Option[String],
      rows: Seq[Row]): Seq[Row] =
    authFilterFields.get(channel) match {
      case None => rows
      case Some(field) =>
        val i = schema.fieldNames.indexOf(field)
        identity match {
          case None => Nil // anonymous caller of an auth-filtered channel
          case Some(_) if i < 0 => Nil // a view that projected the auth field away
          case Some(id) => rows.filter(r => !r.isNullAt(i) && String.valueOf(r.get(i)) == id)
        }
    }
}

private[server] object RequestContract {
  val UnauthorizedBody = """{"detail":"unauthorized"}"""

  /** Fail fast on an auth field that names no column of its channel:
    * such a filter could never match a row. */
  def checkAuthFields(specs: Map[String, ChannelSpec], authFields: Map[String, String]): Unit =
    authFields.foreach { case (channel, field) =>
      specs.get(channel).foreach(s => require(s.schema.fieldNames.contains(field),
        s"Channel '$channel': auth field '$field' not in schema"))
    }
}
