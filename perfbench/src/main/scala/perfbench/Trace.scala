package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.BusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One Spark job as the listener saw it; times are epoch ms. */
final class JobRec(val id: Int, val startMs: Long) {
  @volatile var endMs: Long = Long.MaxValue
  var taskMs = 0L
  var shuffleBytes = 0L
  var outputBytes = 0L
}

/** A timed region around one call into a layer. `trace` groups the
  * spans of one operation (a query, a serve, a cycle).
  */
final case class Span(id: Int, name: String, trace: Long, parent: Int,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long, janino: Long) {
  def wallMs: Double = (endNs - startNs) / 1e6
}

/** Counters of the jobs that started inside a span. */
final case class Counters(jobs: Int, taskMs: Long, driverMs: Double,
    shuffleBytes: Long, bytesWritten: Long)

/** Spans plus a SparkListener. With `enabled = false` every `span` is
  * the bare body and nothing is registered, so untraced runs carry no
  * tracing cost. Spans are kept in memory and written out at the end.
  * Jobs are attributed to spans by start time, which is exact for the
  * benchmark's single client thread (jobs a span starts on pool or
  * stream threads also start inside its interval).
  */
final class Tracer(val enabled: Boolean) extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val done = ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack: List[(Int, Long)] = Nil // (span id, trace id)
  private var attachedTo: Option[SparkSession] = None
  /** While paused, spans are not recorded (the untraced half of the
    * overhead measurement).
    */
  var paused = false

  def attach(spark: SparkSession): Unit = if (enabled && attachedTo.isEmpty) {
    spark.sparkContext.addSparkListener(this)
    attachedTo = Some(spark)
  }

  def detach(): Unit = attachedTo.foreach { s =>
    BusAccess.flush(s.sparkContext)
    s.sparkContext.removeSparkListener(this)
    attachedTo = None
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val rec = new JobRec(e.jobId, e.time)
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(st => stageJob.put(st, rec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val rec = stageJob.get(e.stageId)
    if (m != null && rec != null) rec.synchronized {
      rec.taskMs += m.executorRunTime
      rec.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      rec.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Run `body` as a span named `name`; a span opened with no enclosing
    * span starts a new trace with id `trace`.
    */
  def span[T](name: String, trace: Long = -1L)(body: => T): T =
    if (!enabled || paused) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val (parent, tr) = stack.headOption match {
        case Some((p, t)) => (p, t)
        case None => (0, trace)
      }
      stack = (id, tr) :: stack
      val c0 = compiles
      val ms0 = System.currentTimeMillis()
      val ns0 = System.nanoTime()
      try body
      finally {
        val ns1 = System.nanoTime()
        val ms1 = System.currentTimeMillis()
        stack = stack.tail
        synchronized {
          done += Span(id, name, tr, parent, ns0, ns1, ms0, ms1, compiles - c0)
        }
      }
    }

  def spans: Seq[Span] = synchronized(done.toSeq)

  /** Counters of the jobs started within `s`, read after the listener
    * bus has drained.
    */
  def counters(s: Span): Counters = {
    attachedTo.foreach(a => BusAccess.flush(a.sparkContext))
    val in = jobs.values.asScala.toSeq
      .filter(j => j.startMs >= s.startMs && j.startMs <= s.endMs)
    val busy = Stats.unionLength(Stats.clip(
      in.map(j => (j.startMs, j.endMs)), s.startMs, s.endMs))
    Counters(in.size, in.map(_.taskMs).sum,
      math.max(0.0, s.wallMs - busy), in.map(_.shuffleBytes).sum,
      in.map(_.outputBytes).sum)
  }

  /** Write every span as one JSON object per line. */
  def write(path: String): Unit = {
    val all = spans
    val lines = all.sortBy(_.id).map { s =>
      val c = counters(s)
      Json.obj(Seq(
        "id" -> s.id, "name" -> s.name, "trace" -> s.trace,
        "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "wall_ms" -> s.wallMs, "self_ms" -> Tracer.selfMs(s, all),
        "spark_jobs" -> c.jobs, "task_ms" -> c.taskMs,
        "driver_ms" -> c.driverMs, "shuffle_bytes" -> c.shuffleBytes,
        "bytes_written" -> c.bytesWritten, "janino" -> s.janino))
    }
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  /** Wall minus the part of the interval covered by child spans. */
  def selfMs(s: Span, all: Seq[Span]): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
    (s.endNs - s.startNs - Stats.unionLength(
      Stats.clip(kids, s.startNs, s.endNs))) / 1e6
  }
}
