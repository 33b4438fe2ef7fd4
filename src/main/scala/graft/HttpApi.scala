package graft

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.ql.ParseException
import graft.ql.Parser
import graft.sources.LineProtocol

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

/** The HTTP face of the engine — the surface a reference user actually
  * points clients at (`/root/reference/service/server.go:31-34` mounts
  * query, /ping, and /write on one mux; cmd/handle/main.go boots it).
  * Pure JDK (`com.sun.net.httpserver`) — no new dependencies; the server
  * is a thin protocol adapter and every data-path byte still flows
  * through the Engine's Spark plans.
  *
  * Wire semantics mirrored from the reference handlers:
  *  - `/query` (GET, or POST with a form body): `q` required → 400
  *    `missing required parameter "q"` (query_handler.go:32-36); parse
  *    failure → 400 `error parsing query: …` (query_handler.go:43-47);
  *    `db` defaults to "default" (query_handler.go:10,49-52); BasicAuth
  *    (or u/p params, the public API's other spelling) → 401 on bad
  *    credentials, 403 `forbidden statement: …` on a privilege miss
  *    (query_handler.go:91-117, service/auth.go:26-41 — open until the
  *    first admin exists); multi-statement requests accumulate result
  *    objects under one envelope (query_handler.go:59-72); `epoch`
  *    absent → RFC3339 time strings (coordinator.go:32-46);
  *    `chunked=true` streams newline-delimited ≤`chunk_size` chunks
  *    (query_utils.go:34-46).
  *  - `/write`: `db` required → 400 `missing parameter: db`
  *    (write_handler.go:40-44); unknown db → 404 like the data node the
  *    reference proxies to; `rp` empty → the db's default policy
  *    (write_handler.go:46); `precision` scales timestamps; gzip bodies
  *    via Content-Encoding (write_handler.go:55-63); unauthenticated →
  *    401, no WRITE grant → 403 (write_handler.go:80-101); a body that
  *    parses to zero points → 400 `unable to parse points`
  *    (write_handler.go:74-78); success → 204.
  *  - a request body above `MaxBodyBytes` (InfluxDB 1.x's default
  *    `[http] max-body-size`), or a gzip write body above it once
  *    decompressed, → 413 `Request Entity Too Large`.
  *  - `/ping`: 204, or `verbose` → 200 `{"version":…}` (ping.go:24-38).
  *
  * The non-chunked /query response buffers like the reference proxy does
  * (query_handler.go:84-87); `chunked=true` is the opt-in that streams
  * straight onto the socket via `queryJsonChunked`'s toLocalIterator
  * walk, so an arbitrarily large raw SELECT never materializes anywhere.
  */
final class HttpApi(engine: Engine, port: Int = 0) {

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
  // driver-side ingest fan-in is serialized: writeLineProtocol's
  // read-modify-write of the measurement registry is not a concurrent
  // protocol (the distributed work happens inside the Spark action either
  // way, so this gates only tiny bookkeeping)
  private val writeLock = new Object

  val Version = "graft-1.0"

  def start(): HttpApi = {
    server.createContext("/ping", (ex: HttpExchange) => safely(ex)(handlePing))
    server.createContext("/write", (ex: HttpExchange) => safely(ex)(handleWrite))
    server.createContext("/query", (ex: HttpExchange) => safely(ex)(handleQuery))
    // the reference mounts its query handler at the root (server.go:32)
    server.createContext("/", (ex: HttpExchange) =>
      safely(ex) { e =>
        if (e.getRequestURI.getPath == "/") handleQuery(e)
        else jsonError(e, 404, "not found: " + e.getRequestURI.getPath)
      })
    server.setExecutor(pool)
    server.start()
    this
  }

  def boundPort: Int = server.getAddress.getPort

  def stop(): Unit = { server.stop(0); pool.shutdown() }

  // ---- request plumbing ----------------------------------------------

  private def safely(ex: HttpExchange)(h: HttpExchange => Unit): Unit =
    try h(ex)
    catch {
      case _: BodyTooLarge => jsonError(ex, 413, "Request Entity Too Large")
      case e: Exception =>
        try jsonError(ex, 500, Option(e.getMessage).getOrElse(e.getClass.getName))
        catch { case _: Exception => () } // headers already sent mid-stream
    }
    finally ex.close()

  private def decode(s: String): String = java.net.URLDecoder.decode(s, "UTF-8")

  private def parseKv(qs: String): Map[String, String] =
    if (qs == null || qs.isEmpty) Map.empty
    else qs.split("&").iterator.filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => decode(k) -> decode(v)
        case Array(k)    => decode(k) -> ""
      }
    }.toMap

  private final class BodyTooLarge extends RuntimeException

  /** The whole stream; BodyTooLarge (after one byte) past `MaxBodyBytes`. */
  private def readBounded(in: java.io.InputStream): Array[Byte] =
    try {
      val bytes = in.readNBytes(HttpApi.MaxBodyBytes + 1)
      if (bytes.length > HttpApi.MaxBodyBytes) throw new BodyTooLarge
      bytes
    } finally in.close()

  /** URL params, merged with a form-encoded POST body's (the public API
    * accepts `q` either way; body wins on conflict). */
  private def params(ex: HttpExchange, body: => Array[Byte]): Map[String, String] = {
    val url = parseKv(ex.getRequestURI.getRawQuery)
    val ct = Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
    if (ex.getRequestMethod == "POST" && ct.startsWith("application/x-www-form-urlencoded"))
      url ++ parseKv(new String(body, UTF_8))
    else url
  }

  /** Credentials from BasicAuth (the reference's form, auth.go:27) or the
    * u/p URL params (the public HTTP API's other spelling). */
  private def creds(ex: HttpExchange, p: Map[String, String]): Option[(String, String)] = {
    val basic = Option(ex.getRequestHeaders.getFirst("Authorization"))
      .filter(_.startsWith("Basic "))
      .flatMap { h =>
        val raw = new String(java.util.Base64.getDecoder.decode(h.drop(6).trim), UTF_8)
        raw.split(":", 2) match {
          case Array(u, pw) => Some(u -> pw)
          case _            => None
        }
      }
    basic.orElse(for (u <- p.get("u"); pw <- p.get("p")) yield (u, pw))
  }

  private def respond(ex: HttpExchange, code: Int, body: String,
      contentType: String = "application/json"): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.getResponseHeaders.set("X-Influxdb-Version", Version)
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) {
      val out = ex.getResponseBody
      try out.write(bytes) finally out.close()
    }
  }

  /** `{"error":…}` with explicit Content-Length (query_utils.go:65-71). */
  private def jsonError(ex: HttpExchange, code: Int, message: String): Unit =
    respond(ex, code, s"""{"error":"${jsonEscape(message)}"}""" + "\n")

  private def jsonEscape(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c    => c.toString
  }

  // ---- /ping ----------------------------------------------------------

  private def handlePing(ex: HttpExchange): Unit = {
    val verbose = params(ex, Array.emptyByteArray).get("verbose")
      .exists(v => v.nonEmpty && v != "0" && v != "false")
    if (verbose) respond(ex, 200, s"""{"version":"$Version"}""")
    else respond(ex, 204, "")
  }

  // ---- /query ---------------------------------------------------------

  private def handleQuery(ex: HttpExchange): Unit = {
    val p = params(ex, readBounded(ex.getRequestBody))
    val db = p.getOrElse("db", "default") match { case "" => "default"; case d => d }
    p.get("q").filter(_.nonEmpty) match {
      case None => jsonError(ex, 400, "missing required parameter \"q\"")
      case Some(q) =>
        val stmts =
          try Parser.parseAll(q)
          catch { case e: ParseException =>
            jsonError(ex, 400, "error parsing query: " + e.getMessage); return }
        // authenticate + authorize every statement BEFORE running any
        // (query_handler.go:96-116); open until the first admin exists
        if (!engine.users.isEmpty) {
          creds(ex, p) match {
            case None => jsonError(ex, 401, "authentication failed"); return
            case Some((u, pw)) if !engine.users.authenticate(u, pw) =>
              jsonError(ex, 401, "authentication failed"); return
            case Some((u, _)) =>
              stmts.find(s => !engine.isAuthorized(u, s, db)) match {
                case Some(s) =>
                  jsonError(ex, 403,
                    s"""forbidden statement: user "$u" lacks ${engine.requiredPrivilege(s)} on "$db"""")
                  return
                case None => ()
              }
          }
        }
        val epoch = p.get("epoch").filter(_.nonEmpty) // absent → RFC3339
        val chunked = p.get("chunked").contains("true")
        val wantCsv = Option(ex.getRequestHeaders.getFirst("Accept"))
          .exists(_.contains("application/csv"))
        try {
          if (wantCsv) {
            val w = new java.io.StringWriter
            engine.queryCsvStream(q, w, epoch)
            respond(ex, 200, w.toString, contentType = "application/csv")
          } else if (chunked) {
            // validate BEFORE committing the 200 status line: a bad value
            // must answer 400 (reference does), not a mid-stream 500
            val chunkSize = p.get("chunk_size").filter(_.nonEmpty) match {
              case None => 10000
              case Some(v) => v.toIntOption.filter(_ > 0).getOrElse {
                jsonError(ex, 400, s"invalid chunk_size: $v"); return }
            }
            ex.getResponseHeaders.set("Content-Type", "application/json")
            ex.getResponseHeaders.set("X-Influxdb-Version", Version)
            ex.sendResponseHeaders(200, 0) // stream: length unknown up front
            val w = new java.io.OutputStreamWriter(ex.getResponseBody, UTF_8)
            try engine.queryJsonChunked(q, w, chunkSize, epoch)
            catch { case e: Exception => // mid-stream: emit a trailing error line
              w.write(s"""{"error":"${jsonEscape(e.getMessage)}"}""" + "\n") }
            finally { w.flush(); w.close() }
          } else {
            // buffered, like the reference proxy (query_handler.go:84-87)
            val w = new java.io.StringWriter
            engine.queryJsonStream(q, w, epoch)
            respond(ex, 200, w.toString)
          }
        } catch {
          case e: engine.users.AuthException => jsonError(ex, 403, e.getMessage)
          case e: Exception =>
            jsonError(ex, 400, Option(e.getMessage).getOrElse(e.getClass.getName))
        }
    }
  }

  // ---- /write ---------------------------------------------------------

  private def handleWrite(ex: HttpExchange): Unit = {
    val raw = readBounded(ex.getRequestBody)
    val p = params(ex, raw)
    p.get("db").filter(_.nonEmpty) match {
      case None => jsonError(ex, 400, "missing parameter: db")
      case Some(db) if !engine.databases.exists(db) =>
        jsonError(ex, 404, s"""database not found: "$db"""")
      case Some(db) =>
        if (!engine.users.isEmpty) {
          creds(ex, p) match {
            case None => jsonError(ex, 401, "authentication failed"); return
            case Some((u, pw)) if !engine.users.authenticate(u, pw) =>
              jsonError(ex, 401, "authentication failed"); return
            case Some((u, _)) if !engine.users.authorize(u, db, "WRITE") =>
              jsonError(ex, 403, s"forbidden to write to database: $db"); return
            case _ => ()
          }
        }
        val precision = p.get("precision").filter(_.nonEmpty).getOrElse("ns")
        try LineProtocol.precisionToNs(precision)
        catch { case e: IllegalArgumentException =>
          jsonError(ex, 400, e.getMessage); return }
        val rp = p.get("rp").filter(_.nonEmpty).getOrElse(
          engine.databases.listRps(db).find(_.default).map(_.name).getOrElse("autogen"))
        val text =
          if (Option(ex.getRequestHeaders.getFirst("Content-Encoding")).contains("gzip"))
            try new String(readBounded(new java.util.zip.GZIPInputStream(
              new java.io.ByteArrayInputStream(raw))), UTF_8)
            catch { case _: java.io.IOException =>
              jsonError(ex, 400, "unable to parse points"); return }
          else new String(raw, UTF_8)
        val lines = LineProtocol.splitLines(text)
        if (lines.isEmpty) { jsonError(ex, 400, "unable to parse points"); return }
        // fan-in: group the body by measurement (write_handler.go:103
        // partitions points the same way) and land each group through the
        // standard ingest path under the request's db.rp
        val groups = lines.groupBy(LineProtocol.measurementOf)
        // db isolation: a measurement already bound to ANOTHER database is
        // unreachable through this one — without the check, any writer
        // could re-bind an existing measurement's db.rp association (and
        // with it the retention cutoff) just by naming a different db
        // (ADVICE r6; the reference scopes data per-db physically)
        var ok = 0L
        var bad = groups.get("").map(_.size.toLong).getOrElse(0L) // unparseable heads
        writeLock.synchronized { // check-and-bind must be atomic vs other writers
          groups.keys.find(m => m.nonEmpty && engine.ownerDb(m).exists(_ != db)) match {
            case Some(m) =>
              jsonError(ex, 403,
                s"""measurement "$m" belongs to database "${engine.ownerDb(m).get}"""")
              return
            case None => ()
          }
          groups.foreach { case (m, ls) =>
            if (m.nonEmpty) {
              engine.setRetentionPolicy(m, db, rp) // new or same-db: safe to (re)bind
              val (o, b) = engine.writeLineProtocol(ls, m, precision)
              ok += o; bad += b
            }
          }
        }
        if (ok == 0 && bad > 0) jsonError(ex, 400, "unable to parse points")
        else if (bad > 0)
          jsonError(ex, 400, s"partial write: $bad point(s) dropped") // ok points DID land
        else respond(ex, 204, "")
    }
  }
}

object HttpApi {
  /** InfluxDB 1.x's default `[http] max-body-size`, in bytes. */
  val MaxBodyBytes = 25000000
}
