package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{GraftSession, Tables}

/** Options of one run. */
final case class Ctx(workload: String, seed: Long, seconds: Double,
    traced: Boolean, work: String, data: String, cores: Int, pins: String) {
  val tracer = new Tracer(traced)
}

/** What a workload hands back: the gated end-to-end metrics, the named
  * per-workload metrics, the per-layer metrics (traced runs), operation
  * counts and failures, and free-form context.
  */
final class Result {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, Double]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[String]
  var ops = 0L
  var failed = 0L

  def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 40) failures += msg
    System.err.println(s"[perfbench] FAIL $msg")
  }

  /** Named metric, also printed by run.py with its unit. */
  def name(metric: String, value: Double, unit: String): Unit =
    named(metric) = (value, unit)
}

object Common {
  /** The workload's first untimed work: generic, so no measured corpus
    * memo or index gets built by it.
    */
  def warm(spark: SparkSession, data: String, cores: Int): Unit = {
    Tables.load(spark, data, "region").count()
    graft.Bench.materialize(spark.range(0, 200000, 1, cores)
      .select((col("id") % 101).as("k"), col("id").as("v"))
      .groupBy(col("k")).agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .join(spark.range(101).withColumnRenamed("id", "k"), "k"))
  }

  /** Build the run's one session: `setup_s` is the wall from the
    * `GraftSession.local` call through the warmup, in this fresh JVM.
    * `prepare` then runs untimed: input generation that needs Spark.
    * Workloads start their first timed operation right after it.
    */
  def setup(ctx: Ctx, res: Result)(prepare: SparkSession => Unit): SparkSession = {
    val t0 = System.nanoTime()
    val spark = GraftSession.local("perfbench", ctx.cores)
    warm(spark, ctx.data, ctx.cores)
    res.e2e("setup_s") = secondsSince(t0)
    prepare(spark)
    ctx.tracer.attach(spark)
    spark
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def rssPeakMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  /** Host provenance recorded in every result. */
  def provenance(ctx: Ctx, spark: SparkSession): Map[String, Any] = {
    val calib = (0 until 3).map(_ => graft.Bench.calibrate())
    Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "local_cores" -> ctx.cores,
      "SPARK_GRAFT_CPUS" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", ""),
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "spark_version" -> spark.version,
      "jdk_version" -> System.getProperty("java.version"),
      "calib_median_s" -> Stats.median(calib),
      "calib_samples_s" -> calib)
  }

  /** Total bytes of the regular files under `path`. */
  def dirBytes(path: String): Long = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val st = java.nio.file.Files.walk(root)
      try st.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally st.close()
    }
  }

  /** Sum of a span's counters over its occurrences in one trace. */
  final case class Agg(wallMs: Double, jobs: Double, taskMs: Double,
      driverMs: Double, shuffleBytes: Double, bytesWritten: Double,
      janino: Double)

  /** Per trace id (sorted), the summed spans named `name`. */
  def perTrace(tr: Tracer, name: String,
      keep: Long => Boolean = _ => true): Seq[Agg] =
    tr.spans.filter(s => s.name == name && keep(s.trace))
      .groupBy(_.trace).toSeq.sortBy(_._1).map { case (_, ss) =>
        val cs = ss.map(tr.counters)
        Agg(ss.map(_.wallMs).sum, cs.map(_.jobs).sum, cs.map(_.taskMs).sum,
          cs.map(_.driverMs).sum, cs.map(_.shuffleBytes).sum,
          cs.map(_.bytesWritten).sum, ss.map(_.janino).sum)
      }

  def med(aggs: Seq[Agg])(f: Agg => Double): Double =
    if (aggs.isEmpty) 0.0 else Stats.median(aggs.map(f))

  /** Self time per span name, summed over the run (ms). */
  def selfTimes(tr: Tracer): Map[String, Double] = {
    val all = tr.spans
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => Tracer.selfMs(s, all)).sum
    }
  }

  /** Fill the tail metric and its provenance from warm op latencies. */
  def latency(res: Result, prefix: String, samplesMs: Seq[Double]): Unit = {
    res.e2e("p50_ms") = Stats.median(samplesMs)
    val t = Stats.tail(samplesMs).getOrElse(
      Stats.Tail(100.0, samplesMs.max, 0, samplesMs.size))
    res.e2e("tail_ms") = t.value
    res.extra(s"${prefix}_tail") = Map("percentile" -> t.percentile,
      "samples" -> t.n, "beyond" -> t.beyond)
  }
}
