package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import graft.engine.{Param, QueryInput}

/** How one operation went. `ok` is false for a non-2xx reply, a refused
  * request, an error in the reply or a wrong result. */
final case class Outcome(op: Op, ok: Boolean, nanos: Long, startMs: Long,
    endMs: Long, detail: String = "") {
  def cls: String = op.cls
  def ms: Double = nanos / 1e6
  /** The latency that latency metrics use: a failed operation counts as
    * never answered, so it misses every latency limit. */
  def latencyMs: Double = if (ok) ms else Double.PositiveInfinity
}

/** Rows of the source tables, read straight from parquet with plain Spark
  * (never through the engine), that point reads are checked against. */
final class Expected(val orders: Map[Long, IndexedSeq[Any]],
    val customers: Map[Long, IndexedSeq[Any]]) {
  def table(name: String): Map[Long, IndexedSeq[Any]] =
    if (name == "orders") orders else customers
  /** The seeded `kv` row for id: (o_custkey, o_orderstatus) of that order. */
  def kv(id: Long): (Long, String) = {
    val o = orders(id)
    (o(1).asInstanceOf[Long], o(2).asInstanceOf[String])
  }
}

object Expected {
  def load(spark: org.apache.spark.sql.SparkSession, dir: String): Expected = {
    def rows(t: String) = spark.read.parquet(s"$dir/$t.parquet").collect()
      .map(r => r.getLong(0) -> r.toSeq.toIndexedSeq).toMap
    new Expected(rows("orders"), rows("customer"))
  }

  /** Does a JSON value from a reply equal a source value? */
  def same(node: JsonNode, v: Any): Boolean = v match {
    case null => node == null || node.isNull
    case x: Long => node.isIntegralNumber && node.asLong == x
    case x: Int => node.isIntegralNumber && node.asLong == x
    case x: String => node.isTextual && node.asText == x
    case x => node.isTextual && node.asText == x.toString // dates, as ISO text
  }
}

/** Result texts of analytic statements, for the after-run oracle check. */
final class AnalyticLog {
  final class Entry(val template: String, val rows: String) {
    val ops = new AtomicInteger()
    @volatile var consistent = true
  }
  private val entries = new ConcurrentHashMap[String, Entry]()

  def record(template: String, sql: String, rows: String): Unit = {
    val e = entries.computeIfAbsent(sql, _ => new Entry(template, rows))
    e.ops.incrementAndGet()
    if (e.rows != rows) e.consistent = false
  }

  def all: Seq[(String, Entry)] = entries.asScala.toSeq.sortBy(_._1)
}

/** Per-client record of acknowledged writes, keyed by (table, id): what
  * the client may expect to read back, and what must survive the run. */
final class Acked {
  val rows = mutable.LinkedHashMap[(String, Long), (Long, String)]()
}

/** Runs one operation over HTTP and checks its result. */
final class Executor(client: Client, db: String, expected: Expected,
    analytics: AnalyticLog) {
  private val mapper = new ObjectMapper()
  import Op._

  def run(op: Op, acked: Acked): Outcome = {
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val detail =
      try check(op, acked)
      catch { case e: Exception => s"exception: $e" }
    val nanos = System.nanoTime() - t0
    Outcome(op, detail.isEmpty, nanos, startMs, System.currentTimeMillis(), detail)
  }

  /** The statement an operation's read runs, if it is a single read on
    * main. */
  def readStatement(op: Op): Option[QueryInput] = op match {
    case Get(t, col, key) =>
      Some(QueryInput("q", s"SELECT * FROM $t WHERE $col = ?", Seq(Param.integer(key))))
    case KvGet(t, id, _) => Some(Executor.kvSelect(t, id))
    case Analytic(_, sql) => Some(QueryInput("q", sql))
    case _ => None
  }

  private def data(r: Reply): Either[String, JsonNode] =
    if (!r.ok) Left(s"HTTP ${r.status} ${r.error}${r.text.take(200)}")
    else {
      val n = mapper.readTree(r.body)
      if (n.path("status").asText() != "success") Left(s"status: ${r.text.take(200)}")
      else Right(n.path("data"))
    }

  /** The single statement result of a query reply. */
  private def result(r: Reply): Either[String, JsonNode] =
    data(r).flatMap { d =>
      val q = d.path(0)
      if (q.has("error")) Left(q.path("error").asText()) else Right(q)
    }

  private def rowIs(q: JsonNode, want: Option[IndexedSeq[Any]]): String = {
    val rows = q.path("rows")
    want match {
      case None => if (rows.size == 0) "" else s"expected no row, got $rows"
      case Some(w) =>
        if (rows.size != 1) s"expected one row, got ${rows.size}"
        else {
          val row = rows.get(0)
          if (row.size == w.size && w.indices.forall(i => Expected.same(row.get(i), w(i)))) ""
          else s"row $row != ${w.mkString("[", ",", "]")}"
        }
    }
  }

  private def changes(q: JsonNode, n: Long): String =
    if (q.path("changes").asLong(-1) == n) "" else s"changes ${q.path("changes")} != $n"

  private def kvRow(id: Long, kv: (Long, String)): IndexedSeq[Any] =
    IndexedSeq(id, kv._1, kv._2)

  private def insert(t: String, i: Insert, txn: String = ""): String =
    result(client.query(db, "main", QueryInput("q", s"INSERT INTO $t (id, k, v) VALUES (?, ?, ?)",
      Seq(Param.integer(i.id), Param.integer(i.k), Param.text(i.v)), txn)))
      .fold(identity, changes(_, 1))

  /** Empty when the operation's reply is right, else what was wrong. */
  private def check(op: Op, acked: Acked): String = op match {
    case Get(t, _, key) =>
      result(client.query(db, "main", readStatement(op).get))
        .fold(identity, rowIs(_, expected.table(t).get(key)))
    case KvGet(t, id, own) =>
      val want = if (own) acked.rows.get((t, id)) else Some(expected.kv(id))
      result(client.query(db, "main", readStatement(op).get))
        .fold(identity, rowIs(_, want.map(kvRow(id, _))))
    case i: Insert =>
      val err = insert(Workloads.Kv, i)
      if (err.isEmpty) acked.rows((Workloads.Kv, i.id)) = (i.k, i.v)
      err
    case Update(id, k, v) =>
      val n = if (acked.rows.contains((Workloads.Kv, id))) 1 else 0
      val err = result(client.query(db, "main", QueryInput("q", Executor.KvUpdate,
        Seq(Param.integer(k), Param.text(v), Param.integer(id))))).fold(identity, changes(_, n))
      if (err.isEmpty && n == 1) acked.rows((Workloads.Kv, id)) = (k, v)
      err
    case Txn(t, rows) =>
      data(client.json("POST", s"/v1/databases/$db/main/transactions", "{}")) match {
        case Left(e) => s"begin: $e"
        case Right(d) =>
          val id = d.path("transaction_id").asText()
          val err = rows.iterator.map(insert(t, _, id)).find(_.nonEmpty).getOrElse("")
          if (err.nonEmpty) {
            client.send("DELETE", s"/v1/databases/$db/main/transactions/$id")
            s"txn insert: $err"
          } else data(client.json("POST",
              s"/v1/databases/$db/main/transactions/$id/commit", "")) match {
            case Left(e) => s"commit: $e"
            case Right(_) => rows.foreach(i => acked.rows((t, i.id)) = (i.k, i.v)); ""
          }
      }
    case MetricsRead =>
      data(client.send("GET", s"/v1/databases/$db/main/metrics/query",
        query = Map("start" -> "0", "end" -> "9999999999", "step" -> "1")))
        .fold(identity, d => if (d.isArray) "" else s"metrics data $d")
    case Fork(branch, id) =>
      val created = client.json("POST", s"/v1/databases/$db/branches",
        s"""{"parent":"main","name":"$branch"}""")
      if (!created.ok) s"fork: HTTP ${created.status} ${created.text.take(200)}"
      else {
        val read = result(client.query(db, branch, Executor.kvSelect(Workloads.Kv, id)))
          .fold(identity, rowIs(_, Some(kvRow(id, expected.kv(id)))))
        val dropped = client.send("DELETE", s"/v1/databases/$db/branches/$branch")
        if (read.nonEmpty) s"fork read: $read"
        else if (!dropped.ok) s"drop: HTTP ${dropped.status}"
        else ""
      }
    case Analytic(template, sql) =>
      result(client.query(db, "main", sql)).fold(identity, { q =>
        analytics.record(template, sql, q.path("rows").toString); ""
      })
    case Op.Stream(lo) =>
      val (r, entries) = client.stream(db, "main", QueryInput("s", Executor.StreamSelect,
        Seq(Param.integer(lo), Param.integer(lo + Workloads.StreamRows))))
      if (!r.ok) s"stream: HTTP ${r.status}"
      else entries.collectFirst { case Left(e) => s"stream entry: $e" }.getOrElse {
        val rows = entries.collect { case Right(q) => q.rows }.flatten
        val n = Workloads.StreamRows
        val keySum = rows.map(_.head match {
          case graft.engine.SqlValue.IntVal(v) => v
          case other => Long.MinValue
        }).sum
        if (rows.size != n) s"stream rows ${rows.size} != $n"
        else if (keySum != n * lo + n * (n + 1) / 2) s"stream key sum $keySum"
        else ""
      }
  }
}

object Executor {
  def kvSelect(table: String, id: Long): QueryInput =
    QueryInput("q", s"SELECT id, k, v FROM $table WHERE id = ?", Seq(Param.integer(id)))
  val KvUpdate = "UPDATE kv SET k = ?, v = ? WHERE id = ?"
  val StreamSelect = "SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate " +
    "FROM orders WHERE o_orderkey > ? AND o_orderkey <= ?"
}
