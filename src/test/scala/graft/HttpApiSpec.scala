package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

/** End-to-end HTTP surface: a real client against a real socket, through
  * the same mux the reference serves (`service/server.go:31-34`) — /ping,
  * /write (precision, gzip, mixed measurements, db/rp targeting, error
  * codes), /query (GET + form POST, epoch, multi-statement, chunked,
  * auth gate 401/403). The round-trip a migrating user's client library
  * actually exercises. */
class HttpApiSpec extends SparkSpec {

  private val client = HttpClient.newHttpClient()

  private def withApi(f: (Engine, String) => Unit): Unit = {
    val e = new Engine(spark, sfDir)
    val api = new HttpApi(e).start()
    try f(e, s"http://127.0.0.1:${api.boundPort}")
    finally api.stop()
  }

  private def get(url: String, headers: (String, String)*): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(url))
    headers.foreach { case (k, v) => b.header(k, v) }
    client.send(b.GET().build(), HttpResponse.BodyHandlers.ofString())
  }

  private def post(url: String, body: Array[Byte],
      headers: (String, String)*): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(url))
    headers.foreach { case (k, v) => b.header(k, v) }
    client.send(b.POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
      HttpResponse.BodyHandlers.ofString())
  }

  private def enc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")

  test("/ping answers 204, verbose answers 200 with a version (ping.go:24-38)") {
    withApi { (_, base) =>
      val r = get(s"$base/ping")
      assert(r.statusCode() == 204)
      val v = get(s"$base/ping?verbose=true")
      assert(v.statusCode() == 200)
      assert(v.body().contains("\"version\""))
    }
  }

  test("a body above InfluxDB's max-body-size answers 413, plain or once gunzipped") {
    withApi { (_, base) =>
      val big = Array.fill[Byte](HttpApi.MaxBodyBytes + 1)('\n'.toByte)
      val w = post(s"$base/write?db=default", big)
      assert(w.statusCode() == 413, w.body())
      assert(w.body().contains("\"error\":\"Request Entity Too Large\""), w.body())
      val q = post(s"$base/query", big, "Content-Type" -> "application/x-www-form-urlencoded")
      assert(q.statusCode() == 413, q.body())
      // a gzip body small on the wire but past the limit decompressed
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      try gz.write(big) finally gz.close()
      assert(bos.size() < HttpApi.MaxBodyBytes / 100)
      val g = post(s"$base/write?db=default", bos.toByteArray, "Content-Encoding" -> "gzip")
      assert(g.statusCode() == 413, g.body())
      // the server keeps serving
      val ok = post(s"$base/write?db=default", "big_ok,host=a v=1 1000000000".getBytes(UTF_8))
      assert(ok.statusCode() == 204, ok.body())
    }
  }

  test("write → query round trip; a mixed-measurement body fans in per measurement") {
    withApi { (_, base) =>
      val body = Seq(
        "http_cpu,host=a usage=0.5 1000000000",
        "http_cpu,host=b usage=0.7 2000000000",
        "http_mem,host=a used=10i 1000000000").mkString("\n")
      val w = post(s"$base/write?db=default", body.getBytes(UTF_8))
      assert(w.statusCode() == 204, w.body())
      val q = get(s"$base/query?db=default&epoch=u&q=" +
        enc("SELECT usage FROM http_cpu"))
      assert(q.statusCode() == 200, q.body())
      assert(q.body().contains("\"name\":\"http_cpu\""))
      assert(q.body().contains("0.5") && q.body().contains("0.7"))
      val q2 = get(s"$base/query?epoch=u&q=" + enc("SELECT used FROM http_mem"))
      assert(q2.body().contains("10"))
    }
  }

  test("/query: missing q → 400; parse failure → 400 (query_handler.go:32-47)") {
    withApi { (_, base) =>
      val r = get(s"$base/query")
      assert(r.statusCode() == 400)
      assert(r.body().contains("missing required parameter \\\"q\\\"") ||
        r.body().contains("missing required parameter"))
      val bad = get(s"$base/query?q=" + enc("SELEKT nonsense"))
      assert(bad.statusCode() == 400)
      assert(bad.body().contains("error parsing query"))
    }
  }

  test("/write: missing db → 400, unknown db → 404, empty body → 400") {
    withApi { (_, base) =>
      val r = post(s"$base/write", "m v=1".getBytes(UTF_8))
      assert(r.statusCode() == 400)
      assert(r.body().contains("missing parameter: db"))
      val nodb = post(s"$base/write?db=nope", "m v=1".getBytes(UTF_8))
      assert(nodb.statusCode() == 404)
      assert(nodb.body().contains("database not found"))
      val empty = post(s"$base/write?db=default", Array.emptyByteArray)
      assert(empty.statusCode() == 400)
      assert(empty.body().contains("unable to parse points"))
    }
  }

  test("/write: gzip body (Content-Encoding) and precision scaling land typed points") {
    withApi { (_, base) =>
      val bos = new java.io.ByteArrayOutputStream
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write("http_gz,host=a v=3 7".getBytes(UTF_8)); gz.close()
      val w = post(s"$base/write?db=default&precision=s", bos.toByteArray,
        "Content-Encoding" -> "gzip")
      assert(w.statusCode() == 204, w.body())
      val q = get(s"$base/query?epoch=u&q=" + enc("SELECT v FROM http_gz"))
      assert(q.body().contains("7000000")) // 7 s → µs epoch
    }
  }

  test("/query: multi-statement request accumulates result objects with statement ids") {
    withApi { (_, base) =>
      val q = get(s"$base/query?q=" + enc("CREATE DATABASE httpdb; SHOW DATABASES"))
      assert(q.statusCode() == 200, q.body())
      assert(q.body().contains("\"statement_id\":1"))
      assert(q.body().contains("httpdb"))
    }
  }

  test("/query: epoch absent → RFC3339 strings (coordinator.go:32-46)") {
    withApi { (_, base) =>
      post(s"$base/write?db=default", "http_rfc v=1 0".getBytes(UTF_8))
      val q = get(s"$base/query?q=" + enc("SELECT v FROM http_rfc"))
      assert(q.body().contains("\"1970-01-01T00:00:00Z\""), q.body())
    }
  }

  test("/query: chunked=true streams newline-delimited partial chunks (query_utils.go:34-46)") {
    withApi { (_, base) =>
      val lines = (1 to 5).map(i => s"http_chunk v=$i ${i}000000000")
      post(s"$base/write?db=default", lines.mkString("\n").getBytes(UTF_8))
      val q = get(s"$base/query?chunked=true&chunk_size=2&epoch=u&q=" +
        enc("SELECT v FROM http_chunk"))
      assert(q.statusCode() == 200)
      val out = q.body().split("\n").filter(_.nonEmpty)
      assert(out.length == 3) // 2 + 2 + 1
      assert(out(0).contains("\"partial\":true"))
      assert(!out(2).contains("\"partial\":true"))
    }
  }

  test("auth gate: open bootstrap, then 401 without credentials, 403 without privilege " +
      "(query_handler.go:91-117, write_handler.go:80-101)") {
    withApi { (_, base) =>
      // bootstrap window: no users yet → open (service/auth.go:26-41)
      val mk = get(s"$base/query?q=" +
        enc("CREATE USER root WITH PASSWORD 'secret' WITH ALL PRIVILEGES"))
      assert(mk.statusCode() == 200, mk.body())
      // users exist now: anonymous is refused
      assert(get(s"$base/query?q=" + enc("SHOW DATABASES")).statusCode() == 401)
      assert(post(s"$base/write?db=default", "m v=1".getBytes(UTF_8)).statusCode() == 401)
      // wrong password → 401; admin credentials → 200 (BasicAuth and u/p)
      assert(get(s"$base/query?u=root&p=wrong&q=" + enc("SHOW DATABASES"))
        .statusCode() == 401)
      assert(get(s"$base/query?u=root&p=secret&q=" + enc("SHOW DATABASES"))
        .statusCode() == 200)
      val basic = java.util.Base64.getEncoder.encodeToString("root:secret".getBytes(UTF_8))
      assert(get(s"$base/query?q=" + enc("SHOW DATABASES"),
        "Authorization" -> s"Basic $basic").statusCode() == 200)
      // a READ-only user can query but not write or admin
      get(s"$base/query?u=root&p=secret&q=" + enc("CREATE USER reader WITH PASSWORD 'r'"))
      get(s"$base/query?u=root&p=secret&q=" + enc("GRANT READ ON default TO reader"))
      assert(get(s"$base/query?u=reader&p=r&q=" + enc("SELECT mean(value) FROM events"))
        .statusCode() == 200)
      val wr = post(s"$base/write?db=default&u=reader&p=r", "m v=1".getBytes(UTF_8))
      assert(wr.statusCode() == 403)
      assert(wr.body().contains("forbidden to write to database"))
      assert(get(s"$base/query?u=reader&p=r&q=" + enc("CREATE DATABASE x"))
        .statusCode() == 403)
      // admin can write
      assert(post(s"$base/write?db=default&u=root&p=secret",
        "http_auth v=1 1".getBytes(UTF_8)).statusCode() == 204)
    }
  }

  test("cross-engine replication: a subscription on one engine delivers into " +
      "another engine's /write (the reference's node-to-node topology)") {
    withApi { (ea, baseA) =>
      val eb = new Engine(spark, sfDir)
      val apiB = new HttpApi(eb).start()
      val baseB = s"http://127.0.0.1:${apiB.boundPort}"
      try {
        ea.execute("CREATE SUBSCRIPTION \"rep\" ON \"default\".\"autogen\" " +
          s"DESTINATIONS ALL '$baseB'")
        val w = post(s"$baseA/write?db=default",
          "http_rep,host=a v=9 5000000000".getBytes(UTF_8))
        assert(w.statusCode() == 204, w.body())
        // engine B received the forwarded batch through its own HTTP write
        // path and serves it back over its own query path
        val q = get(s"$baseB/query?epoch=u&q=" + enc("SELECT v FROM http_rep"))
        assert(q.statusCode() == 200, q.body())
        assert(q.body().contains("\"name\":\"http_rep\""), q.body())
        assert(q.body().contains("[5000000,9.0]") || q.body().contains("[5000000,9]"),
          q.body())
      } finally apiB.stop()
    }
  }

  test("/query with Accept: application/csv answers CSV (public API encoding)") {
    withApi { (_, base) =>
      post(s"$base/write?db=default", Seq(
        "http_csv,host=a v=1 1000000000",
        "http_csv,host=b v=2 2000000000").mkString("\n").getBytes(UTF_8))
      val q = get(s"$base/query?epoch=u&q=" + enc("SELECT v FROM http_csv"),
        "Accept" -> "application/csv")
      assert(q.statusCode() == 200, q.body())
      assert(q.headers().firstValue("Content-Type").orElse("").startsWith("application/csv"))
      val lines = q.body().split("\n")
      assert(lines(0) == "name,tags,time,v", lines(0))
      assert(lines.exists(_.startsWith("http_csv,,1000000,1")), q.body())
    }
  }

  test("Grafana dashboard flow over HTTP: filtered meta queries end to end") {
    withApi { (_, base) =>
      post(s"$base/write?db=default", Seq(
        "http_gf,region=eu,host=a v=1 1000000000",
        "http_gf,region=us,host=b v=2 2000000000",
        "http_gf,region=us,host=c v=3 3000000000").mkString("\n").getBytes(UTF_8))
      // variable population: measurements by regex, tag values filtered +
      // paged — the exact statement shapes Grafana issues
      val m = get(s"$base/query?q=" + enc("SHOW MEASUREMENTS WITH MEASUREMENT =~ /gf/"))
      assert(m.statusCode() == 200 && m.body().contains("http_gf"), m.body())
      val tv = get(s"$base/query?q=" +
        enc("SHOW TAG VALUES FROM http_gf WITH KEY = host WHERE region = 'us' LIMIT 1 OFFSET 1"))
      assert(tv.statusCode() == 200, tv.body())
      assert(tv.body().contains("\"c\"") && !tv.body().contains("\"a\""), tv.body())
      // unsupported WHERE target answers with a clear 400
      val bad = get(s"$base/query?q=" + enc("SHOW DATABASES WHERE x = 'y'"))
      assert(bad.statusCode() == 400, bad.body())
    }
  }

  test("db isolation: a measurement bound to one database is unreachable " +
      "through another (privileges + /write rebind, ADVICE r6)") {
    withApi { (_, base) =>
      get(s"$base/query?q=" +
        enc("CREATE USER root WITH PASSWORD 'secret' WITH ALL PRIVILEGES"))
      val rq = (q: String) => get(s"$base/query?u=root&p=secret&q=" + enc(q))
      rq("CREATE DATABASE dba"); rq("CREATE DATABASE dbb")
      // root binds http_iso to dba via a write
      assert(post(s"$base/write?db=dba&u=root&p=secret",
        "http_iso v=1 1000000000".getBytes(UTF_8)).statusCode() == 204)
      rq("CREATE USER alice WITH PASSWORD 'a'")
      rq("GRANT ALL ON dbb TO alice")
      // alice holds READ/WRITE on dbb — but http_iso belongs to dba:
      // querying it THROUGH dbb must be forbidden, not a bypass
      val bypass = get(s"$base/query?db=dbb&u=alice&p=a&q=" +
        enc("SELECT v FROM http_iso"))
      assert(bypass.statusCode() == 403, bypass.body())
      // and a write through dbb must not re-bind the db.rp association
      val rebind = post(s"$base/write?db=dbb&u=alice&p=a",
        "http_iso v=2 2000000000".getBytes(UTF_8))
      assert(rebind.statusCode() == 403, rebind.body())
      assert(rebind.body().contains("belongs to database"), rebind.body())
      // no privilege on the owning db either → still forbidden
      assert(get(s"$base/query?db=dba&u=alice&p=a&q=" +
        enc("SELECT v FROM http_iso")).statusCode() == 403)
      // the owner path keeps working
      assert(get(s"$base/query?db=dba&u=root&p=secret&q=" +
        enc("SELECT v FROM http_iso")).statusCode() == 200)
    }
  }

  test("chunked: invalid chunk_size answers 400 before the stream commits") {
    withApi { (_, base) =>
      post(s"$base/write?db=default", "http_cs v=1 1000000000".getBytes(UTF_8))
      val bad = get(s"$base/query?chunked=true&chunk_size=abc&q=" +
        enc("SELECT v FROM http_cs"))
      assert(bad.statusCode() == 400, bad.body())
      assert(bad.body().contains("invalid chunk_size"), bad.body())
      val zero = get(s"$base/query?chunked=true&chunk_size=0&q=" +
        enc("SELECT v FROM http_cs"))
      assert(zero.statusCode() == 400, zero.body())
    }
  }

  test("/query as form POST (the public API's POST spelling)") {
    withApi { (_, base) =>
      val r = post(s"$base/query", s"q=${enc("SHOW MEASUREMENTS")}".getBytes(UTF_8),
        "Content-Type" -> "application/x-www-form-urlencoded")
      assert(r.statusCode() == 200, r.body())
      assert(r.body().contains("\"results\""))
    }
  }
}
