package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.{Executors, TimeUnit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.api.{HttpApi, Serve}
import graft.engine.{AccessKey, GraftSession}

/** The served-path benchmark's JVM side.
  *
  * It boots the real server with [[Serve.start]] on an ephemeral port,
  * imports the seeded parquet tables, and drives HMAC-signed HTTP requests
  * at it from closed-loop client threads in the same process. With
  * `--trace 0` it reports end-to-end metrics; with `--trace 1` it reports
  * per-layer metrics measured from outside each layer (timed calls into
  * public functions, public counters, a SparkListener) and writes a span
  * dump. Results go to `--out` as JSON; metric lines go to stdout.
  *
  * Usage: LoadBench --workload W --seed N --seconds S --trace 0|1
  *          --data DIR --tables T1,T2,.. --work DIR --out FILE
  */
object LoadBench {
  val Db = "bench"
  /** Set-ups per end-to-end run; setup_s is their median. */
  val Setups = 3
  /** Untimed closed-loop traffic before measuring: JIT, handler-thread
    * views, Spark code generation. */
  val WarmSeconds = 3.0

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      data: String, tables: Seq[String], work: Path, out: Path)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", need("--data"), need("--tables").split(",").toSeq,
      Path.of(need("--work")), Path.of(need("--out")))
  }

  /** A booted server and the handles the benchmark drives it with. */
  final class Server(val api: HttpApi, val session: GraftSession,
      val client: Client, val key: AccessKey, val root: Path)

  /** The engine behind a server that [[Serve.start]] booted: HttpApi keeps
    * it in its one GraftSession-typed field. */
  private def sessionOf(api: HttpApi): GraftSession = {
    val f = classOf[HttpApi].getDeclaredFields
      .find(f => classOf[GraftSession].isAssignableFrom(f.getType))
      .getOrElse(throw new IllegalStateException("HttpApi holds no GraftSession"))
    f.setAccessible(true)
    f.get(api).asInstanceOf[GraftSession]
  }

  private val mapper = new ObjectMapper()

  private def must(r: Reply, what: String): Reply = {
    require(r.ok && !r.text.contains("\"error\""), s"$what: HTTP ${r.status} ${r.text.take(300)}")
    r
  }

  /** Boot a server on a fresh data directory and bring it to the state
    * every workload starts from. */
  def boot(spark: SparkSession, root: Path, a: Args): Server = {
    val (user, password) = ("bench", "bench-password")
    val (api, port) = Serve.start(spark, root, port = 0, anonymousRoot = false,
      allowUnsignedKeys = false, rootUser = Some((user, password)))
    val session = sessionOf(api)
    val basic = "Basic " + java.util.Base64.getEncoder
      .encodeToString(s"$user:$password".getBytes(UTF_8))
    val keyReply = HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/v1/access-keys"))
        .header("Authorization", basic)
        .POST(HttpRequest.BodyPublishers.ofString("""{"description":"perfbench",""" +
          """"statements":[{"effect":"allow","resource":"*","actions":["*"]}]}"""))
        .build(), HttpResponse.BodyHandlers.ofString())
    require(keyReply.statusCode() / 100 == 2, s"access key: ${keyReply.body()}")
    val kn = mapper.readTree(keyReply.body()).path("data")
    val keyId = kn.path("access_key_id").asText()
    val client = new Client(port, keyId, kn.path("access_key_secret").asText())
    must(client.json("POST", "/v1/databases", s"""{"name":"$Db"}"""), "create database")
    a.tables.foreach(t => session.importParquet(Db, "main", t, s"${a.data}/$t.parquet"))
    must(client.query(Db, "main", "CREATE TABLE kv (id INTEGER PRIMARY KEY, k INTEGER, v TEXT)"),
      "create kv")
    must(client.query(Db, "main", "INSERT INTO kv (id, k, v) SELECT o_orderkey, o_custkey, " +
      s"o_orderstatus FROM orders WHERE o_orderkey <= ${Workloads.KvSeed}"), "seed kv")
    must(client.query(Db, "main", Executor.kvSelect(Workloads.Kv, 1)), "first read")
    new Server(api, session, client, session.accessKeys.get(keyId).get, root)
  }

  /** Outcomes of a drive: those that started in the warm-up, those that
    * started in the measured window, and the seconds from the window's
    * start until the last of them finished. */
  final case class Driven(warm: Seq[Outcome], measured: Seq[Outcome], seconds: Double)

  /** Run `clients` closed-loop clients: untimed warm-up traffic for
    * `warmSeconds`, then `seconds` measured. An operation belongs to the
    * window it started in; `each` sees every finished operation on the
    * client's own thread. */
  def drive(exec: Executor, workload: String, seed: Long, clients: Int, phase: Int,
      warmSeconds: Double, seconds: Double, acked: Seq[Acked],
      each: Outcome => Unit = _ => ()): Driven = {
    val start = System.nanoTime()
    val measureFrom = start + (warmSeconds * 1e9).toLong
    val deadline = measureFrom + (seconds * 1e9).toLong
    val pool = Executors.newFixedThreadPool(clients)
    val futures = (0 until clients).map { c =>
      pool.submit { () =>
        val stream = new Workloads.Stream(workload, seed, c, clients, phase)
        val out = mutable.ArrayBuffer[(Boolean, Outcome)]()
        var t = System.nanoTime()
        while (t < deadline) {
          val o = exec.run(stream.next(), acked(c))
          each(o)
          out += ((t >= measureFrom, o))
          t = System.nanoTime()
        }
        (out.toSeq, t)
      }
    }
    pool.shutdown()
    val results = futures.map(_.get())
    pool.awaitTermination(1, TimeUnit.MINUTES)
    val all = results.flatMap(_._1)
    Driven(all.collect { case (false, o) => o }, all.collect { case (true, o) => o },
      (results.map(_._2).max - measureFrom) / 1e9)
  }

  /** The tables a workload writes: `kv`, plus per-client transaction
    * tables for oltp_mixed, created here before its clients start. */
  def writeTables(server: Server, workload: String, clients: Int): Seq[String] = {
    val txn = if (workload != "oltp_mixed") Nil else (0 until clients).map(Workloads.txnTable)
    txn.foreach(t => must(server.client.query(Db, "main",
      s"CREATE TABLE $t (id INTEGER PRIMARY KEY, k INTEGER, v TEXT)"), "txn table"))
    Workloads.Kv +: txn
  }

  /** The acknowledged-write check: every acknowledged row is there with its
    * last acknowledged value, and count(*) of each table matches. Returns
    * the number of rows that are missing, extra or wrong. */
  def checkWrites(server: Server, acked: Seq[Acked], tables: Seq[String]): (Int, String) = {
    val want = acked.flatMap(_.rows).toMap
    def rows(sql: String) = {
      val r = must(server.client.query(Db, "main", sql), "read back")
      mapper.readTree(r.body).path("data").path(0).path("rows")
    }
    val results = tables.map { t =>
      val seeded = if (t == Workloads.Kv) Workloads.KvSeed else 0L
      val mine = want.filter(_._1._1 == t).map { case ((_, id), v) => id -> v }
      val count = rows(s"SELECT COUNT(*) FROM $t").get(0).get(0).asLong
      val got = rows(s"SELECT id, k, v FROM $t WHERE id > ${Workloads.KvSeed}").elements()
        .asScala.map(r => r.get(0).asLong -> (r.get(1).asLong, r.get(2).asText)).toMap
      val wrong = (mine.keySet ++ got.keySet).count(id => mine.get(id) != got.get(id))
      math.max(wrong, math.abs(count - seeded - mine.size).toInt)
    }
    (results.sum, s"${want.size} acknowledged rows in ${tables.size} tables")
  }

  private val t0 = System.nanoTime()
  /** A timeline mark on stderr: seconds since the JVM's benchmark start. */
  def mark(what: String): Unit =
    System.err.println(f"[perfbench] +${(System.nanoTime() - t0) / 1e9}%.1fs $what")

  def line(name: String, value: Double, unit: String, note: String = ""): Unit =
    println(f"$name%-40s ${value}%.6g $unit${if (note.isEmpty) "" else "  (" + note + ")"}")

  private def heapAfterGcMb(): Double = {
    System.gc(); System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }

  /** Per-class latency lines and the headline metrics: throughput, and
    * the median and tail of the workload's primary class. */
  private def latencyMetrics(workload: String, outcomes: Seq[Outcome], seconds: Double,
      metrics: mutable.LinkedHashMap[String, (Double, String)]): Unit = {
    outcomes.groupBy(_.cls).toSeq.sortBy(_._1).foreach { case (cls, os) =>
      val ms = os.map(_.latencyMs)
      line(s"$cls.p50_ms", Stats.median(ms), "ms", s"${os.size} ops")
      Stats.tail(ms).foreach(t =>
        line(s"$cls.tail_ms", t.value, "ms", f"p${t.percentile}%.2f of ${t.samples}"))
    }
    val primary = outcomes.filter(_.cls == Workloads.primary(workload)).map(_.latencyMs)
    val tail = Stats.tail(primary).getOrElse(throw new IllegalStateException(
      s"only ${primary.size} ${Workloads.primary(workload)} operations: too few for a tail"))
    metrics("throughput_ops_s") = (outcomes.count(_.ok) / seconds, "1/s")
    metrics("primary.p50_ms") = (Stats.median(primary), "ms")
    metrics("primary.tail_ms") = (tail.value, "ms")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val clients = Workloads.clients(a.workload, cores)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    mark("spark up")
    val code =
      try {
        val result = if (a.trace) TracedRun(a, spark, clients) else endToEnd(a, spark, clients)
        Files.writeString(a.out, result)
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      } finally spark.stop()
    sys.exit(code)
  }

  def resultJson(attempted: Int, failed: Int,
      metrics: collection.Map[String, (Double, String)], analytics: AnalyticLog): String = {
    val node = mapper.createObjectNode()
    node.put("attempted", attempted)
    node.put("failed", failed)
    val m = node.putObject("metrics")
    metrics.foreach { case (k, (v, u)) =>
      val o = m.putObject(k); o.put("value", v); o.put("unit", u)
    }
    val an = node.putArray("analytics")
    analytics.all.foreach { case (sql, e) =>
      val o = an.addObject()
      o.put("template", e.template); o.put("sql", sql)
      o.set[com.fasterxml.jackson.databind.JsonNode]("rows", mapper.readTree(e.rows))
      o.put("ops", e.ops.get); o.put("consistent", e.consistent)
    }
    mapper.writeValueAsString(node)
  }

  def report(failures: Seq[Outcome]): Unit =
    failures.take(5).foreach(o => System.err.println(s"failed ${o.op}: ${o.detail}"))

  private def endToEnd(a: Args, spark: SparkSession, clients: Int): String = {
    val setups = (1 to Setups).map { i =>
      val t0 = System.nanoTime()
      val s = boot(spark, a.work.resolve(s"db-$i"), a)
      mark(s"set-up $i done")
      ((System.nanoTime() - t0) / 1e9, s)
    }
    val expected = Expected.load(spark, a.data)
    mark("expected rows loaded")
    setups.init.foreach(_._2.api.stop())
    val server = setups.last._2
    val analytics = new AnalyticLog
    val exec = new Executor(server.client, Db, expected, analytics)
    val tables = writeTables(server, a.workload, clients)
    val acked = Seq.fill(clients)(new Acked)
    val run = drive(exec, a.workload, a.seed, clients, 1, WarmSeconds, a.seconds, acked)
    val (warm, outcomes) = (run.warm, run.measured)
    mark("measured")
    val (kvBad, kvNote) = checkWrites(server, acked, tables)
    mark("writes checked")
    line("check.wrong_rows", kvBad, "count", kvNote)
    val failures = (warm ++ outcomes).filterNot(_.ok)
    report(failures)
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    metrics("setup_s") = (Stats.median(setups.map(_._1)), "s")
    latencyMetrics(a.workload, outcomes, run.seconds, metrics)
    metrics("heap_after_gc_mb") = (heapAfterGcMb(), "MB")
    val attempted = warm.size + outcomes.size
    val failed = failures.size + kvBad
    line("error_rate", failed.toDouble / attempted, "ratio", s"$failed of $attempted")
    server.api.stop()
    resultJson(attempted, failed, metrics, analytics)
  }
}
