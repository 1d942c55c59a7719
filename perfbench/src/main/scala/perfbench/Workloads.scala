package perfbench

import java.time.LocalDate
import java.util.SplittableRandom
import scala.collection.mutable

/** One client operation. `cls` is the class its latency is reported under. */
sealed trait Op { def cls: String }

object Op {
  /** Primary-key lookup on an imported source table. */
  final case class Get(table: String, keyCol: String, key: Long) extends Op {
    val cls = "read"
  }
  /** Lookup of one row of a key-value table; `own` rows were written by
    * this client. */
  final case class KvGet(table: String, id: Long, own: Boolean) extends Op {
    val cls = "read"
  }
  final case class Insert(id: Long, k: Long, v: String) extends Op { val cls = "write" }
  final case class Update(id: Long, k: Long, v: String) extends Op { val cls = "write" }
  /** Begin, one INSERT per row into `table` with the transaction id,
    * commit. */
  final case class Txn(table: String, rows: Seq[Insert]) extends Op { val cls = "txn" }
  case object MetricsRead extends Op { val cls = "metrics" }
  /** Fork `branch` from main, read seeded row `id` on it, drop it. */
  final case class Fork(branch: String, id: Long) extends Op { val cls = "branch" }
  final case class Analytic(template: String, sql: String) extends Op {
    val cls = "analytic"
  }
  /** Binary stream of the orders with keys in (lo, lo + StreamRows]. */
  final case class Stream(lo: Long) extends Op { val cls = "stream" }
}

/** The benchmark's workloads and their seeded operation streams. */
object Workloads {
  import Op._

  /** Source-table sizes (they must match datagen.py). */
  val Orders = 150000L
  val Customers = 15000L
  /** `kv` rows seeded from orders at set-up: ids 1..KvSeed. */
  val KvSeed = 20000L
  val StreamRows = 20000L

  /** Autocommit writes all go to `kv`. Each client's transactions go to its
    * own table: the engine's snapshot isolation is table-grained, so a
    * commit is refused (error 11001, by design) when another writer changed
    * its table after BEGIN, and a closed-loop client has no such writer. */
  val Kv = "kv"
  def txnTable(client: Int): String = s"txn_$client"

  /** Closed-loop client count; `maxClients` is min(4, nproc). */
  def clients(workload: String, maxClients: Int): Int = workload match {
    case "point_read" | "oltp_mixed" => maxClients
    case "analytic_mix" => math.min(2, maxClients)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  val names: Seq[String] = Seq("point_read", "oltp_mixed", "analytic_mix")

  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val eventT0 = 1700000000L
  private val bucketWidths = Seq(300, 600, 900, 1800, 3600)

  private def date(d: LocalDate): String = s"DATE '$d'"

  /** Aggregate statements; each template has well over 256 distinct texts,
    * so a run of them overflows the 256-entry plan cache. */
  val templates: Seq[String] = Seq("q01_pricing", "q03_shipping", "q05_region", "e01_event_window")

  def analytic(template: String, rng: SplittableRandom): Analytic = template match {
    case "q01_pricing" =>
      val cut = LocalDate.of(1998, 12, 1).minusDays(60 + rng.nextInt(1000))
      Analytic(template, "SELECT l_returnflag, l_linestatus, " +
        "SUM(l_quantity) AS sum_qty, SUM(l_extendedprice) AS sum_base, " +
        "SUM(l_extendedprice * (100 - l_discount)) AS sum_disc, COUNT(*) AS n " +
        s"FROM lineitem WHERE l_shipdate <= ${date(cut)} " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus")
    case "q03_shipping" =>
      val seg = segments(rng.nextInt(segments.size))
      val d = LocalDate.of(1995, 1, 1).plusDays(rng.nextInt(300))
      Analytic(template, "SELECT l_orderkey, " +
        "SUM(l_extendedprice * (100 - l_discount)) AS revenue, o_orderdate " +
        "FROM customer JOIN orders ON c_custkey = o_custkey " +
        "JOIN lineitem ON l_orderkey = o_orderkey " +
        s"WHERE c_mktsegment = '$seg' AND o_orderdate < ${date(d)} " +
        s"AND l_shipdate > ${date(d)} GROUP BY l_orderkey, o_orderdate " +
        "ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10")
    case "q05_region" =>
      val region = regions(rng.nextInt(regions.size))
      val from = LocalDate.of(1993, 1, 1).plusDays(rng.nextInt(1400))
      Analytic(template, "SELECT n_name, " +
        "SUM(l_extendedprice * (100 - l_discount)) AS revenue " +
        "FROM customer JOIN orders ON c_custkey = o_custkey " +
        "JOIN lineitem ON l_orderkey = o_orderkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        s"WHERE r_name = '$region' AND o_orderdate >= ${date(from)} " +
        s"AND o_orderdate < ${date(from.plusYears(1))} " +
        "GROUP BY n_name ORDER BY revenue DESC, n_name")
    case "e01_event_window" =>
      val w = bucketWidths(rng.nextInt(bucketWidths.size))
      val lo = eventT0 + 3600L * rng.nextInt(600)
      Analytic(template, "SELECT event_type, " +
        s"FLOOR(ts / $w) AS bucket, COUNT(*) AS n, SUM(value) AS total " +
        s"FROM events WHERE ts >= $lo AND ts < ${lo + 3 * 86400} " +
        s"GROUP BY event_type, FLOOR(ts / $w) ORDER BY event_type, bucket")
  }

  /** oltp_mixed's deck of 10 operation kinds, dealt in a seeded order and
    * reshuffled when used up, so every 10 operations hold 3 reads of seeded
    * rows, 3 reads of the client's own rows, 2 INSERTs, 1 transaction, and
    * one slot that rotates through UPDATE, UPDATE, metrics read, branch
    * fork. Over 40 operations: 60% reads, 20% INSERT, 5% UPDATE, 10%
    * transactions, 2.5% metrics reads, 2.5% branch forks. */
  val oltpDeck: Seq[String] =
    Seq.fill(3)("seeded_read") ++ Seq.fill(3)("own_read") ++ Seq.fill(2)("insert") ++
      Seq("txn", "rotating")
  val oltpRotation: Seq[String] = Seq("update", "update", "metrics", "fork")

  /** The class whose median a workload reports as `primary.p50_ms`. */
  def primary(workload: String): String =
    if (workload == "analytic_mix") "analytic" else "read"

  /** analytic_mix: every 10th operation is a stream; the others cycle
    * through the four templates in a seeded order per cycle. */
  val StreamEvery = 10

  /** A seeded deck: `cards` dealt in a fresh shuffled order each round. */
  final class Deck[T](cards: Seq[T], rng: SplittableRandom) {
    private var order = Vector.empty[T]
    def deal(): T = {
      if (order.isEmpty) order = shuffle(cards.toVector)
      val c = order.head
      order = order.tail
      c
    }
    private def shuffle(xs: Vector[T]): Vector[T] = // Fisher-Yates
      (xs.size - 1 to 1 by -1).foldLeft(xs) { (v, i) =>
        val j = rng.nextInt(i + 1)
        v.updated(i, v(j)).updated(j, v(i))
      }
  }

  /** The operation stream of one client. The sequence depends only on
    * (workload, seed, client, phase): ids a client writes are its own, so
    * its reads of them can be checked without coordination. `phase`
    * separates the id spaces of successive passes over one database. */
  final class Stream(workload: String, seed: Long, client: Int, clients: Int,
      phase: Int) {
    private val rng = new SplittableRandom(
      seed * 1000003L + workload.hashCode * 7919L + client * 101L + phase)
    private val idBase = 100000000L * (phase + 1)
    private var issued = 0L
    private var written = 0L
    private var forks = 0L
    private var rotation = 0
    private val oltp = new Deck(oltpDeck, rng)
    private val analytics = new Deck(templates, rng)
    private val own = mutable.ArrayBuffer[(String, Long)]()
    private val table = txnTable(client)

    private def newId(t: String): Long = {
      val id = idBase + written * clients + client
      written += 1
      own += ((t, id))
      id
    }
    private def value(): String =
      "v" + java.lang.Long.toString(rng.nextLong(Long.MaxValue), 36)
    private def insert(t: String = Kv): Insert = Insert(newId(t), rng.nextLong(1000000L), value())
    private def seededKv(): KvGet = KvGet(Kv, 1 + rng.nextLong(KvSeed), own = false)
    private def pickOwn(): (String, Long) = own(rng.nextInt(own.size))

    def next(): Op = {
      issued += 1
      workload match {
        case "point_read" =>
          if (rng.nextBoolean()) Get("orders", "o_orderkey", 1 + rng.nextLong(Orders))
          else Get("customer", "c_custkey", 1 + rng.nextLong(Customers))
        case "oltp_mixed" => oltp.deal() match {
          case "seeded_read" => seededKv()
          case "own_read" =>
            if (own.isEmpty) seededKv()
            else { val (t, id) = pickOwn(); KvGet(t, id, own = true) }
          case "insert" => insert()
          case "txn" => Txn(table, Seq(insert(table), insert(table)))
          case _ =>
            rotation += 1
            oltpRotation((rotation - 1) % oltpRotation.size) match {
              case "update" =>
                val kvOwn = own.filter(_._1 == Kv)
                if (kvOwn.isEmpty) insert()
                else Update(kvOwn(rng.nextInt(kvOwn.size))._2, rng.nextLong(1000000L), value())
              case "metrics" => MetricsRead
              case _ =>
                forks += 1
                Fork(s"fork_${phase}_${client}_$forks", 1 + rng.nextLong(KvSeed))
            }
        }
        case "analytic_mix" =>
          if (issued % StreamEvery == 0) Op.Stream(rng.nextLong(Orders - StreamRows))
          else analytic(analytics.deal(), rng)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    }
  }
}
