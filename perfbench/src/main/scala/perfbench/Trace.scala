package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._

/** One Spark job as the listener saw it. Times are epoch milliseconds. */
final case class JobRec(id: Int, start: Long, end: Long, tasks: Int,
    shuffleBytes: Long, spillBytes: Long) {
  def ms: Long = math.max(0L, end - start)
}

/** A SparkListener that keeps per-job task, shuffle and spill totals.
  * The benchmark attributes jobs to operations by start time, so the
  * traced pass runs one operation at a time. */
final class JobLog extends SparkListener {
  private final class Acc(val start: Long) {
    @volatile var end = -1L
    var tasks = 0
    var shuffle = 0L
    var spill = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, Acc]()
  private val stageJob = new ConcurrentHashMap[Integer, Integer]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.put(e.jobId, new Acc(e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val job = stageJob.get(e.stageId)
    val acc = if (job == null) null else jobs.get(job.intValue)
    if (acc != null) acc.synchronized {
      acc.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        acc.shuffle += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Jobs that have ended, in start order. */
  def finished: Seq[JobRec] = jobs.asScala.toSeq.collect {
    case (id, a) if a.end >= 0 => a.synchronized(JobRec(id, a.start, a.end, a.tasks, a.shuffle, a.spill))
  }.sortBy(_.start)
}

object JobLog {
  /** Jobs that started inside [from, to] (epoch ms, inclusive). */
  def within(jobs: Seq[JobRec], from: Long, to: Long): Seq[JobRec] =
    jobs.filter(j => j.start >= from && j.start <= to)
}

/** A timed section of the traced pass. `parent` is the id of the enclosing
  * span, or -1; `request` ties the spans of one operation together. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
    parent: Int, request: String) {
  def json: String = {
    val sb = new StringBuilder
    sb.append(s"""{"id":$id,"name":""")
    graft.engine.Json.string(name, sb)
    sb.append(s""","start_ns":$startNs,"end_ns":$endNs,"parent":$parent,"request_id":""")
    graft.engine.Json.string(request, sb)
    sb.append('}').toString
  }
}

/** In-memory span buffer, written out once at the end of a traced run. */
final class Spans {
  private val buf = mutable.ArrayBuffer[Span]()
  def add(name: String, startNs: Long, endNs: Long, parent: Int, request: String): Int =
    synchronized {
      val id = buf.size
      buf += Span(id, name, startNs, endNs, parent, request)
      id
    }
  def all: Seq[Span] = synchronized(buf.toList)
  def write(path: java.nio.file.Path): Unit =
    java.nio.file.Files.write(path, all.map(_.json).asJava)
}

/** Calls `probe` every `intervalMs` on a daemon thread until stopped. */
final class Sampler(intervalMs: Long)(probe: () => Unit) {
  @volatile private var running = true
  private val thread = new Thread(() => {
    while (running) {
      probe()
      Thread.sleep(intervalMs)
    }
  })
  thread.setDaemon(true)
  thread.setName("perfbench-sampler")
  thread.start()

  def stop(): Unit = { running = false; thread.join() }
}
