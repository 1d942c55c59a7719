package perfbench

import com.sun.net.httpserver.HttpServer
import java.net.{InetSocketAddress, ServerSocket}
import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite

class ExecutorSpec extends AnyFunSuite {
  private val expected = new Expected(
    Map(7L -> IndexedSeq[Any](7L, 3L, "F", 100L, "1995-01-02", "1-URGENT")), Map.empty)

  /** A server that answers every request with `status` and `body`. */
  private def withServer[T](status: Int, body: String)(f: Int => T): T = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", ex => {
      val b = body.getBytes(UTF_8)
      ex.sendResponseHeaders(status, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    })
    server.start()
    try f(server.getAddress.getPort) finally server.stop(0)
  }

  private def run(port: Int, op: Op): Outcome =
    new Executor(new Client(port, "key", "secret"), "bench", expected, new AnalyticLog)
      .run(op, new Acked)

  private val read = Op.Get("orders", "o_orderkey", 7)
  private val insert = Op.Insert(100000001L, 1, "v")

  test("401 and 500 replies are failures and miss every latency limit") {
    for (status <- Seq(401, 500); op <- Seq(read, insert)) {
      val o = withServer(status, """{"status":"error","message":"no"}""")(run(_, op))
      assert(!o.ok, s"$status $op")
      assert(o.latencyMs.isPosInfinity, s"$status $op")
    }
  }

  test("a refused connection is a failure") {
    val port = { val s = new ServerSocket(0); try s.getLocalPort finally s.close() }
    val o = run(port, read)
    assert(!o.ok && o.latencyMs.isPosInfinity)
    assert(o.detail.contains("HTTP -1"))
  }

  test("a refusal inside a 200 batch reply is a failure") {
    val o = withServer(200,
      """{"status":"success","data":[{"id":"q","error":"write queue full"}]}""")(run(_, insert))
    assert(!o.ok && o.detail.contains("write queue full"))
  }

  test("a right row passes and a wrong row fails") {
    def reply(row: String) = s"""{"status":"success","data":[{"changes":0,""" +
      s""""columns":[],"id":"q","rows":[$row]}]}"""
    val good = withServer(200, reply("""[7,3,"F",100,"1995-01-02","1-URGENT"]"""))(run(_, read))
    assert(good.ok && good.latencyMs == good.ms, good.detail)
    val bad = withServer(200, reply("""[7,3,"F",101,"1995-01-02","1-URGENT"]"""))(run(_, read))
    assert(!bad.ok && bad.detail.startsWith("row"))
  }
}
