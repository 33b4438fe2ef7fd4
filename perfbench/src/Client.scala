package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

/** An operation the server refused or answered with an error. */
final class OpFailed(msg: String) extends RuntimeException(msg)

/** One series of an InfluxDB JSON result. */
final case class Series(name: String, tags: Map[String, String],
    columns: Seq[String], values: Seq[Seq[JsonNode]]) {
  def col(c: String): Int = {
    val i = columns.indexOf(c)
    if (i < 0) throw new OpFailed(s"column $c missing from $columns")
    i
  }
}

/** A loopback InfluxDB 1.x client: `/query` over GET, `/write` over POST.
  * One per client thread (keep-alive connection reuse). */
final class Client(port: Int) {
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val base = s"http://127.0.0.1:$port"

  /** GET /query with epoch=s; returns the raw body. Throws OpFailed on a
    * non-200 status or a statement error. */
  def queryRaw(q: String): Array[Byte] = {
    val uri = URI.create(s"$base/query?db=default&epoch=s&q=" +
      java.net.URLEncoder.encode(q, UTF_8))
    val resp = http.send(HttpRequest.newBuilder(uri).GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())
    if (resp.statusCode != 200)
      throw new OpFailed(s"/query ${resp.statusCode}: ${new String(resp.body, UTF_8).take(300)}")
    resp.body
  }

  /** POST /write. Throws OpFailed unless 204. */
  def write(lines: Seq[String]): Unit = {
    val req = HttpRequest.newBuilder(URI.create(s"$base/write?db=default&precision=ns"))
      .POST(HttpRequest.BodyPublishers.ofString(lines.mkString("\n"), UTF_8)).build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode != 204)
      throw new OpFailed(s"/write ${resp.statusCode}: ${resp.body.take(300)}")
  }
}

object Client {
  private val mapper = new ObjectMapper()

  /** The series of statement 0. */
  def series(body: Array[Byte]): Seq[Series] = {
    val root = mapper.readTree(body)
    val res = root.path("results").path(0)
    if (res.has("error")) throw new OpFailed("statement error: " + res.get("error").asText)
    import scala.jdk.CollectionConverters._
    res.path("series").elements().asScala.toSeq.map { s =>
      val tags = s.path("tags").fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
      Series(s.path("name").asText, tags,
        s.path("columns").elements().asScala.map(_.asText).toSeq,
        s.path("values").elements().asScala.map(_.elements().asScala.toSeq).toSeq)
    }
  }
}
