package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.engine.{Authorizer, Param, QueryInput, QueryStream, RequestAuth}
import LoadBench.{Db, Server, line, mark}

/** The traced run (`--trace 1`): per-layer metrics, measured from outside
  * each layer by timing calls into its public functions, reading its public
  * counters and listening to Spark. After set-up and warm-up it runs three
  * phases of `seconds / 3`:
  *
  *   A. the workload's own clients; write-queue depth and kv file-set count
  *      sampled every 2 ms, plan-cache and view-registration deltas;
  *   B. one client, untraced: the baseline for `trace.overhead_pct`;
  *   C. one client, traced: spans per operation, a timed re-validation of
  *      its signed request, and for reads a timed authorize and in-process
  *      execute replay (writes are never replayed). With one operation in
  *      flight, Spark jobs are attributed to it by start time.
  *
  * then times layer probes (branch fork, metrics read, stream encode) that
  * are the same for every workload. */
object TracedRun {
  type Metrics = mutable.LinkedHashMap[String, (Double, String)]

  /** One phase-C operation with its layer timings. `authorizeUs`,
    * `executeMs` and `replaySparkMs` are set for replayed reads only. */
  final case class Layers(o: Outcome, validateUs: Double, authorizeUs: Option[Double],
      executeMs: Option[Double], replaySparkMs: Double, jobs: Seq[JobRec]) {
    def sparkMs: Double = jobs.map(_.ms).sum.toDouble
  }

  /** Phase A's counter deltas and samples. */
  final case class Contention(ops: Seq[Outcome], depth: Seq[Int], filesets: Seq[(Long, Int)],
      hits: Long, misses: Long, views: Long, bytesGrown: Long) {
    /** Times at which kv's file-set count dropped: a compaction or a
      * copy-on-write rewrite folded its file-sets. */
    def drops: Seq[Long] = filesets.sliding(2).collect {
      case Seq((_, x), (t, y)) if y < x => t
    }.toSeq
    def userBytes: Long = ops.filter(_.ok).map(_.op).collect {
      case i: Op.Insert => 16L + i.v.length
      case Op.Txn(_, rows) => rows.map(16L + _.v.length).sum
    }.sum
  }

  /** Allowed distance, in points, of a read class's accounted self time
    * from 100% of its median latency. */
  val Tolerance = 15

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  private def dirBytes(p: Path): Long =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def apply(a: LoadBench.Args, spark: SparkSession, clients: Int): String = {
    val jobLog = new JobLog
    spark.sparkContext.addSparkListener(jobLog)
    val server = LoadBench.boot(spark, a.work.resolve("db-trace"), a)
    mark("set-up done")
    val analytics = new AnalyticLog
    val exec = new Executor(server.client, Db, Expected.load(spark, a.data), analytics)
    val tables = LoadBench.writeTables(server, a.workload, clients)
    val acked = Seq.fill(clients)(new Acked)
    val one = Seq(new Acked)
    val third = a.seconds / 3.0
    val warm = LoadBench.drive(exec, a.workload, a.seed, clients, 0,
      LoadBench.WarmSeconds, 0, acked).warm
    val contention = phaseA(server, exec, a, clients, third, acked)
    mark("phase A done")
    val baseline = LoadBench.drive(exec, a.workload, a.seed, 1, 2, 0, third, one).measured
    mark("phase B done")
    val spans = new Spans
    val layers = phaseC(server, exec, a, third, one, jobLog, spans)
    mark("phase C done")

    report(layers, contention)
    val m = metrics(server, layers, contention, baseline)
    println("# per-layer metrics")
    m.foreach { case (k, (v, u)) => line(k, v, u) }

    val (bad, note) = LoadBench.checkWrites(server, acked ++ one, tables)
    line("check.wrong_rows", bad, "count", note)
    val outcomes = warm ++ contention.ops ++ baseline ++ layers.map(_.o)
    val failures = outcomes.filterNot(_.ok)
    LoadBench.report(failures)
    val spanFile = a.out.resolveSibling(a.out.getFileName.toString + ".spans.jsonl")
    spans.write(spanFile)
    line("trace.spans", spans.all.size, "count", s"written to ${spanFile.getFileName}")
    server.api.stop()
    LoadBench.resultJson(outcomes.size, failures.size + bad, m, analytics)
  }

  private def phaseA(server: Server, exec: Executor, a: LoadBench.Args, clients: Int,
      seconds: Double, acked: Seq[Acked]): Contention = {
    val session = server.session
    val queue = session.writeQueues(Db, "main")
    val depth = mutable.ArrayBuffer[Int]()
    val filesets = mutable.ArrayBuffer[(Long, Int)]()
    def cache = session.planCache.synchronized((session.planCache.hits, session.planCache.misses))
    val (hits0, misses0) = cache
    val views0 = session.viewRegistrations.get()
    val bytes0 = dirBytes(server.root)
    val sampler = new Sampler(2)(() => {
      depth += queue.queued
      filesets += ((System.currentTimeMillis(),
        session.catalog.currentVersion(Db, "main", Workloads.Kv).map(_.paths.size).getOrElse(0)))
    })
    val ops = LoadBench.drive(exec, a.workload, a.seed, clients, 1, 0, seconds, acked).measured
    sampler.stop()
    val (hits1, misses1) = cache
    Contention(ops, depth.toSeq, filesets.toSeq, hits1 - hits0, misses1 - misses0,
      session.viewRegistrations.get() - views0, dirBytes(server.root) - bytes0)
  }

  private def phaseC(server: Server, exec: Executor, a: LoadBench.Args, seconds: Double,
      acked: Seq[Acked], jobLog: JobLog, spans: Spans): Seq[Layers] = {
    val session = server.session
    final case class Traced(o: Outcome, root: Int, rid: String, validateUs: Double,
        authorizeUs: Option[Double], executeMs: Option[Double], replayFrom: Long,
        replayTo: Long)
    val traced = mutable.ArrayBuffer[Traced]()
    def timed[T](name: String, root: Int, rid: String)(f: => T): (T, Long) = {
      val t = System.nanoTime()
      val r = f
      val ns = System.nanoTime() - t
      spans.add(name, t, t + ns, root, rid)
      (r, ns)
    }
    LoadBench.drive(exec, a.workload, a.seed, 1, 3, 0, seconds, acked, { o =>
      val rid = s"op-${traced.size}"
      val end = System.nanoTime()
      val root = spans.add(s"op.${o.cls}", end - o.nanos, end, -1, rid)
      val signed = server.client.lastSigned.get()
      val (_, validateNs) = timed("auth.validate", root, rid)(
        RequestAuth.validate(RequestAuth.captureToken(signed.token), server.client.secret,
          signed.method, signed.path, signed.headers, signed.body, signed.query))
      traced += (exec.readStatement(o.op) match {
        case None => Traced(o, root, rid, validateNs / 1e3, None, None, 0L, -1L)
        case Some(q) =>
          val (_, authNs) = timed("auth.authorize", root, rid)(
            Authorizer.authorize(session.spark, server.key, Db, "main", q.statement))
          val from = System.currentTimeMillis()
          val (r, execNs) = timed("engine.execute", root, rid)(
            session.execute(Db, "main", q, server.key))
          require(r.error.isEmpty, s"replay failed: ${r.error}")
          Traced(o, root, rid, validateNs / 1e3, Some(authNs / 1e3), Some(execNs / 1e6), from,
            System.currentTimeMillis())
      })
    })
    Thread.sleep(1500) // let the listener bus deliver the last job ends
    val jobs = jobLog.finished
    val clockOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    traced.toSeq.map { t =>
      val served = JobLog.within(jobs, t.o.startMs, t.o.endMs)
      served.foreach(j => spans.add("spark.job", j.start * 1000000L - clockOffsetNs,
        j.end * 1000000L - clockOffsetNs, t.root, t.rid))
      Layers(t.o, t.validateUs, t.authorizeUs, t.executeMs,
        JobLog.within(jobs, t.replayFrom, t.replayTo).map(_.ms).sum.toDouble, served)
    }
  }

  /** Self times on a read's blocking path, as medians over `ls`:
    * api = HTTP round trip - replayed execute - validate; auth = validate +
    * authorize; engine driver = execute - replay's Spark jobs - authorize;
    * spark = the served request's job time. */
  private def readSelfTimes(ls: Seq[Layers]): Seq[(String, Double)] = Seq(
    "api_ms" -> med(ls.map(l => l.o.ms - l.executeMs.get - l.validateUs / 1e3)),
    "auth_ms" -> (med(ls.map(_.validateUs / 1e3)) + med(ls.map(_.authorizeUs.get / 1e3))),
    "engine_driver_ms" -> med(ls.map(l => l.executeMs.get - l.replaySparkMs - l.authorizeUs.get / 1e3)),
    "spark_jobs_ms" -> med(ls.map(_.sparkMs)))

  private def accountedPct(ls: Seq[Layers]): Double =
    100 * readSelfTimes(ls).map(_._2).sum / med(ls.map(_.o.ms))

  /** The per-class report of the one-client traced pass. */
  private def report(layers: Seq[Layers], c: Contention): Unit = {
    println("# per-class layer report (one client, traced pass)")
    layers.groupBy(_.o.cls).toSeq.sortBy(_._1).foreach { case (cls, ls) =>
      val n = ls.size.toDouble
      val lat = med(ls.map(_.o.ms))
      line(s"latency_ms.$cls", lat, "ms", s"${ls.size} ops")
      line(s"spark.jobs_per_op.$cls", ls.map(_.jobs.size).sum / n, "count")
      line(s"spark.tasks_per_op.$cls", ls.map(_.jobs.map(_.tasks).sum).sum / n, "count")
      line(s"spark.job_ms_per_op.$cls", ls.map(_.sparkMs).sum / n, "ms")
      line(s"spark.shuffle_bytes_per_op.$cls", ls.map(_.jobs.map(_.shuffleBytes).sum).sum / n, "bytes")
      val replayed = ls.filter(_.executeMs.isDefined)
      if (replayed.nonEmpty) {
        line(s"engine.execute_ms.$cls", med(replayed.map(_.executeMs.get)), "ms")
        line(s"engine.driver_ms.$cls", med(replayed.map(l => l.executeMs.get - l.replaySparkMs)), "ms")
        readSelfTimes(replayed).foreach { case (k, v) => line(s"selftime.$cls.$k", v, "ms") }
        val pct = accountedPct(replayed)
        line(s"selftime.$cls.accounted_pct", pct, "%", "sum of self-time medians over " +
          s"median latency: ${if (math.abs(pct - 100) <= Tolerance) "within" else "OUTSIDE"} " +
          s"100 +- $Tolerance")
      } else {
        val validateMs = med(ls.map(_.validateUs / 1e3))
        val sparkMs = med(ls.map(_.sparkMs))
        line(s"selftime.$cls.auth_ms", validateMs, "ms")
        line(s"selftime.$cls.spark_jobs_ms", sparkMs, "ms")
        line(s"selftime.$cls.api_engine_residual_ms", lat - validateMs - sparkMs, "ms",
          "not replayed: HTTP, routing, write queue and driver work together")
        line(s"selftime.$cls.measured_pct", 100 * (validateMs + sparkMs) / lat, "%",
          "share of median latency in separately measured layers")
      }
    }
    val stalls = c.ops.filter(o => (o.cls == "write" || o.cls == "txn") &&
      c.drops.exists(t => t >= o.startMs && t <= o.endMs)).map(_.ms)
    if (stalls.nonEmpty) line("catalog.compaction_stall_ms", stalls.max, "ms",
      s"slowest of ${stalls.size} writes during which kv's file-sets were folded")
    if (c.userBytes > 0) line("storage.bytes_per_user_byte", c.bytesGrown.toDouble / c.userBytes,
      "ratio", s"${c.bytesGrown} data-dir bytes for ${c.userBytes} inserted bytes")
  }

  private def metrics(server: Server, layers: Seq[Layers], c: Contention,
      baseline: Seq[Outcome]): Metrics = {
    val session = server.session
    def timedMs(n: Int)(f: => Unit): Double = Stats.median((1 to n).map { _ =>
      val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e6
    })
    var forks = 0
    val forkMs = timedMs(5) {
      forks += 1
      session.createBranch(Db, "main", s"probe_$forks")
      session.catalog.dropBranch(Db, s"probe_$forks")
    }
    val metricsMs = timedMs(5)(session.metrics.read(Db, "main"))
    val streamMs = timedMs(3) {
      val in = new java.io.ByteArrayOutputStream()
      QueryStream.writeMessage(in, QueryStream.Frame, QueryStream.encodeFrame(Seq(
        QueryInput("s", Executor.StreamSelect,
          Seq(Param.integer(0), Param.integer(Workloads.StreamRows))))))
      QueryStream.writeMessage(in, QueryStream.Close, Array.emptyByteArray)
      val out = new java.io.ByteArrayOutputStream()
      QueryStream.serveStreamed(new java.io.ByteArrayInputStream(in.toByteArray), out,
        (q, emit) => session.executeStreamed(Db, "main", q, server.key)(emit))
      val rows = Client.decodeStream(out.toByteArray).collect { case Right(r) => r.rows.size }.sum
      require(rows == Workloads.StreamRows, s"stream probe rows $rows")
    }

    val reads = layers.filter(_.executeMs.isDefined)
    val jobs = layers.flatMap(_.jobs)
    val n = math.max(1, layers.size).toDouble
    val lookups = c.hits + c.misses
    val m: Metrics = mutable.LinkedHashMap()
    m("api.overhead_ms") = (med(reads.map(l => l.o.ms - l.executeMs.get)), "ms")
    m("auth.validate_us") = (med(layers.map(_.validateUs)), "us")
    m("auth.authorize_us") = (med(reads.map(_.authorizeUs.get)), "us")
    m("engine.execute_ms") = (med(reads.map(_.executeMs.get)), "ms")
    m("engine.driver_ms") = (med(reads.map(l => l.executeMs.get - l.replaySparkMs)), "ms")
    m("views.registrations_per_op") = (c.views.toDouble / math.max(1, c.ops.size), "count")
    m("plan_cache.hit_ratio") = (if (lookups == 0) 0.0 else c.hits.toDouble / lookups, "ratio")
    m("plan_cache.misses") = (c.misses.toDouble, "count")
    m("write_queue.depth_mean") = (Stats.mean(c.depth.map(_.toDouble)), "count")
    m("write_queue.depth_max") = ((0 +: c.depth).max.toDouble, "count")
    m("write_queue.full_rejects") = (c.ops.count(_.detail.contains("write queue full")).toDouble, "count")
    m("catalog.filesets_max") = ((0 +: c.filesets.map(_._2)).max.toDouble, "count")
    m("catalog.compactions") = (c.drops.size.toDouble, "count")
    m("catalog.branch_fork_ms") = (forkMs, "ms")
    m("metrics.read_ms") = (metricsMs, "ms")
    m("spark.jobs_per_op") = (jobs.size / n, "count")
    m("spark.tasks_per_op") = (jobs.map(_.tasks).sum / n, "count")
    m("spark.job_ms_per_op") = (jobs.map(_.ms).sum / n, "ms")
    m("spark.shuffle_bytes_per_op") = (jobs.map(_.shuffleBytes).sum / n, "bytes")
    m("spark.spill_bytes") = (jobs.map(_.spillBytes).sum.toDouble, "bytes")
    m("stream.rows_per_s") = (Workloads.StreamRows / (streamMs / 1e3), "1/s")
    val base = med(baseline.map(_.ms))
    m("trace.overhead_pct") = (100 * (med(layers.map(_.o.ms)) - base) / base, "%")
    m("trace.accounted_pct") = (accountedPct(reads), "%")
    m
  }
}
