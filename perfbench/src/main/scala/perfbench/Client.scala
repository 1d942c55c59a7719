package perfbench

import java.io.ByteArrayOutputStream
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.http.HttpRequest.BodyPublishers
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration
import graft.engine.{Json, QueryInput, QueryStream, RequestAuth, SqlValue, Wire}

/** One HTTP reply. `status` is -1 when the request never got a reply
  * (refused connection, reset, timeout). */
final case class Reply(status: Int, body: Array[Byte], error: String = "") {
  def ok: Boolean = status >= 200 && status < 300
  def text: String = new String(body, UTF_8)
}

/** The inputs a signed request was signed over, kept so a traced run can
  * re-time the server's validation of the very same request. */
final case class Signed(token: String, method: String, path: String,
    headers: Map[String, String], body: Array[Byte], query: Map[String, String])

/** An HMAC-signing client of the server's HTTP API, as an application
  * would use it: every request carries a fresh `x-lbdb-date` and an
  * Authorization token from [[RequestAuth.signRequest]]. */
final class Client(port: Int, keyId: String, val secret: String,
    timeout: Duration = Duration.ofSeconds(120)) {
  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10))
    .build()
  private val host = s"127.0.0.1:$port"

  /** The last request this thread signed. */
  val lastSigned = new ThreadLocal[Signed]

  def send(method: String, path: String, body: Array[Byte] = Array.emptyByteArray,
      query: Map[String, String] = Map.empty,
      signedBody: Option[Array[Byte]] = None): Reply = {
    val date = (System.currentTimeMillis() / 1000).toString
    val headers = Map("content-type" -> "application/json", "host" -> host,
      "x-lbdb-date" -> date)
    val signOver = signedBody.getOrElse(body)
    val token = RequestAuth.signRequest(keyId, secret, method, path, headers,
      signOver, query)
    lastSigned.set(Signed(token, method, path, headers, signOver, query))
    val qs = if (query.isEmpty) "" else query.map { case (k, v) => s"$k=$v" }.mkString("?", "&", "")
    val b = HttpRequest.newBuilder(URI.create(s"http://$host$path$qs"))
      .timeout(timeout)
      .header("Authorization", token)
      .header("Content-Type", "application/json")
      .header("x-lbdb-date", date)
    val req = method match {
      case "GET" => b.GET()
      case "DELETE" => b.DELETE()
      case _ => b.POST(BodyPublishers.ofByteArray(body))
    }
    try {
      val r = http.send(req.build(), HttpResponse.BodyHandlers.ofByteArray())
      Reply(r.statusCode(), r.body())
    } catch {
      case e: java.io.IOException => Reply(-1, Array.emptyByteArray, e.toString)
      case e: InterruptedException => throw e
    }
  }

  def json(method: String, path: String, body: String,
      query: Map[String, String] = Map.empty): Reply =
    send(method, path, body.getBytes(UTF_8), query)

  /** One query batch of a single statement. */
  def query(db: String, branch: String, q: QueryInput): Reply =
    json("POST", s"/v1/databases/$db/$branch/query", Client.batch(q))

  def query(db: String, branch: String, sql: String): Reply =
    query(db, branch, QueryInput("q", sql))

  /** A binary query stream (open, one frame, close). The server signs
    * streams over an empty body. Returns the reply and its decoded entries
    * (Left = error text). */
  def stream(db: String, branch: String, q: QueryInput)
      : (Reply, Seq[Either[String, graft.engine.QueryResponse]]) = {
    val out = new ByteArrayOutputStream()
    QueryStream.writeMessage(out, QueryStream.Open, Array.emptyByteArray)
    QueryStream.writeMessage(out, QueryStream.Frame, QueryStream.encodeFrame(Seq(q)))
    QueryStream.writeMessage(out, QueryStream.Close, Array.emptyByteArray)
    val r = send("POST", s"/v1/databases/$db/$branch/query/stream", out.toByteArray,
      signedBody = Some(Array.emptyByteArray))
    (r, if (r.ok) Client.decodeStream(r.body) else Nil)
  }
}

object Client {
  /** The JSON batch body of one statement (the reference's QueryInput
    * shape: id, statement, typed parameters, optional transaction id). */
  def batch(q: QueryInput): String = {
    val sb = new StringBuilder("""{"queries":[{"id":""")
    Json.string(q.id, sb)
    sb.append(""","statement":""")
    Json.string(q.statement, sb)
    sb.append(""","parameters":[""")
    q.parameters.zipWithIndex.foreach { case (p, i) =>
      if (i > 0) sb.append(',')
      sb.append("""{"type":""")
      Json.string(p.typeName, sb)
      sb.append(""","value":""")
      SqlValue.toJson(p.value, sb)
      sb.append('}')
    }
    sb.append(']')
    if (q.transactionId.nonEmpty) {
      sb.append(""","transaction_id":""")
      Json.string(q.transactionId, sb)
    }
    sb.append("}]}").toString
  }

  /** Split a stream reply into its messages and decode every entry. */
  def decodeStream(body: Array[Byte]): Seq[Either[String, graft.engine.QueryResponse]] = {
    val buf = java.nio.ByteBuffer.wrap(body).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val out = Seq.newBuilder[Either[String, graft.engine.QueryResponse]]
    while (buf.remaining() >= 5) {
      val tag = buf.get() & 0xFF
      val msg = new Array[Byte](buf.getInt())
      buf.get(msg)
      if (tag == QueryStream.Error) out += Left(new String(msg, UTF_8))
      else if (tag == QueryStream.Frame)
        QueryStream.decodeResponseFrame(msg).foreach { case (isError, b) =>
          out += (if (isError) Left(new String(b, UTF_8)) else Right(Wire.decodeResponse(b)))
        }
    }
    out.result()
  }
}
