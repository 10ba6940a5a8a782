package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.analytics._

/** `catalog`: the `SparkEntry.catalog` queries over the shipped test
  * corpus, each materialized into the `noop` sink (`graft.Bench
  * .materialize`). A cold pass in a fresh session, then warm passes with
  * the order rotated by the seed.
  *
  * A cold pass over all 148 queries costs about a minute on 4 cores, so a
  * run takes one of the fixed slices in `catalog_pins.json` (seed mod the
  * slice count). The slices are balanced on measured cold and warm cost,
  * so every seed does about the same work; consecutive seeds cover the
  * whole catalog. Each answer is checked against the digest pinned from
  * an oracle-checked run (`pin_catalog.py`).
  */
object Catalog {
  /** Warm passes per run, `graft.Bench`'s count: 18-19 queries a slice,
    * so 54-57 warm samples and the tail is always p75. Fixed, so every
    * commit measures the same work whatever the host's speed.
    */
  val Passes = 3

  /** Every catalog query with its family (the query object holding it). */
  def families: Seq[(String, GraftQuery)] = Seq(
    "Pipeline" -> PipelineQueries.all, "Core" -> CoreQueries.all,
    "Text" -> TextQueries.all, "Dedup" -> DedupQueries.all,
    "Similarity" -> SimilarityQueries.all,
    "Multimodal" -> MultimodalQueries.all,
    "Extended" -> ExtendedQueries.all, "Advanced" -> AdvancedQueries.all,
    "CorpusPrep" -> CorpusPrepQueries.all,
    "Retrieval" -> RetrievalQueries.all)
    .flatMap { case (f, qs) => qs.map(f -> _) }

  /** A pinned query: its slice and the digest of its oracle-checked
    * answer (None when the oracle comparison failed at pin time).
    */
  final case class Pin(slice: Int, digest: Option[String])

  /** `catalog_pins.json`: {"slices": K, "queries": {name: {"slice",
    * "digest"}}}, read with Spark's bundled Jackson.
    */
  def readPins(path: String): (Int, Map[String, Pin]) = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path))
    val qs = m.get("queries")
    val pins = qs.fieldNames().asScala.map { n =>
      val q = qs.get(n)
      val d = q.get("digest")
      n -> Pin(q.get("slice").asInt(), if (d == null || d.isNull) None else Some(d.asText()))
    }.toMap
    (m.get("slices").asInt(), pins)
  }

  /** Order-insensitive digest of an answer: rows rendered (doubles to 10
    * significant digits), sorted, hashed.
    */
  def digest(rows: Seq[org.apache.spark.sql.Row]): String = {
    def cell(v: Any): String = v match {
      case null => "null"
      case d: Double => f"$d%.10g"
      case f: Float => f"${f.toDouble}%.6g"
      case x => x.toString
    }
    val text = rows.map(_.toSeq.map(cell).mkString("\u0001")).sorted.mkString("\n")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes("UTF-8")).take(12).map("%02x".format(_)).mkString
  }

  def rotate[T](xs: Seq[T], by: Int): Seq[T] =
    if (xs.isEmpty) xs else {
      val k = ((by % xs.size) + xs.size) % xs.size
      xs.drop(k) ++ xs.take(k)
    }

  /** One slice measured: a cold pass in catalog order, then
    * warm passes rotated from `rot` (traced runs alternate untraced and
    * traced passes for the overhead).
    */
  final case class Measured(cold: Seq[(String, Option[Double])],
      passes: Seq[(Boolean, Seq[(String, Option[Double])])]) {
    def coldS: Double = cold.flatMap(_._2).sum / 1e3
    def warmMs: Seq[Double] = passes.filter(_._1).flatMap(_._2.flatMap(_._2))
    /** Each query's fastest warm wall over the passes (`graft.Bench`'s
      * per-query min: a contended stretch of the host slows some passes,
      * rarely all of them).
      */
    def bestMs: Seq[Double] = passes.filter(_._1).flatMap(_._2).groupBy(_._1)
      .values.flatMap(xs => xs.flatMap(_._2).minOption).toSeq
    /** The warm slice wall: the per-query bests, summed. */
    def warmS: Double = bestMs.sum / 1e3
  }

  def measure(ctx: Ctx, spark: SparkSession, res: Result,
      qs: Seq[(String, GraftQuery)], rot: Int): Measured = {
    val tr = ctx.tracer
    def pass(trace: Long, order: Seq[(String, GraftQuery)]): Seq[(String, Option[Double])] =
      order.map { case (fam, q) =>
        res.ops += 1
        val t0 = System.nanoTime()
        try {
          tr.span(s"analytics.catalog.$fam", trace) {
            graft.Bench.materialize(q.build(spark, ctx.data))
          }
          q.name -> Some((System.nanoTime() - t0) / 1e6)
        } catch {
          case e: Throwable =>
            res.fail(s"${q.name}: ${e.getClass.getSimpleName}: ${e.getMessage}")
            q.name -> None
        }
      }
    val cold = pass(0, qs)
    val passes = (0 until Passes).map { i =>
      val traced = !ctx.traced || i % 2 == 1
      if (ctx.traced) { tr.paused = !traced; if (traced) tr.attach(spark) else tr.detach() }
      traced -> pass(i + 1L, rotate(qs, rot + (i + 1) * qs.size / 3))
    }
    tr.paused = false
    Measured(cold, passes)
  }

  def run(ctx: Ctx, res: Result): Unit = {
    val (slices, pins) = readPins(ctx.pins)
    val k = (ctx.seed % slices).toInt
    val qs = families.filter(q => pins.get(q._2.name).exists(_.slice == k))
    val unpinned = families.map(_._2.name).filterNot(pins.contains)
    if (unpinned.nonEmpty) res.fail(s"queries without a pin: ${unpinned.mkString(",")}")
    val tr = ctx.tracer
    val spark = Common.setup(ctx, res)(_ => ())
    res.extra("shares") = Map("slice" -> k, "slices" -> slices,
      "queries" -> qs.size, "catalog" -> families.size)

    val m = measure(ctx, spark, res, qs, (ctx.seed / slices).toInt * 7)
    val passes = m.passes
    val warmMs = m.warmMs
    res.e2e("cold_s") = m.coldS
    res.e2e("cycle_s") = m.warmS
    Common.latency(res, "query", warmMs)
    res.e2e("p50_ms") = Stats.median(m.bestMs)
    res.e2e("ops_per_s") = qs.size / m.warmS
    res.name("catalog_cold_s", m.coldS, "s")
    res.name("catalog_s", m.warmS, "s")

    if (ctx.traced) {
      val untraced = passes.filterNot(_._1).flatMap(_._2.flatMap(_._2))
      res.perLayer("bench.trace_overhead_ms") =
        Stats.median(warmMs) - Stats.median(untraced)
      val tracedPasses = passes.zipWithIndex.filter(_._1._1).map(_._2 + 1L).toSet
      for (f <- Layers.Families) {
        val a = Common.perTrace(tr, s"analytics.catalog.$f", tracedPasses)
        val p = s"analytics.catalog.$f"
        res.perLayer(s"$p.wall_s") = Common.med(a)(_.wallMs) / 1e3
        res.perLayer(s"$p.spark_jobs") = Common.med(a)(_.jobs)
        res.perLayer(s"$p.task_s") = Common.med(a)(_.taskMs) / 1e3
        res.perLayer(s"$p.driver_s") = Common.med(a)(_.driverMs) / 1e3
        res.perLayer(s"$p.shuffle_bytes") = Common.med(a)(_.shuffleBytes)
      }
      val perPass = tracedPasses.toSeq.map(t =>
        tr.spans.filter(s => s.trace == t && s.name.startsWith("analytics.catalog."))
          .map(_.janino.toDouble).sum)
      res.perLayer("analytics.catalog.janino") = Stats.median(perPass)
    }

    res.extra("provenance") = Common.provenance(ctx, spark)
    // output check, untimed: each answer against its pinned digest
    for ((_, q) <- qs) {
      try {
        val got = digest(q.build(spark, ctx.data).collect().toSeq)
        pins(q.name).digest match {
          case None => res.fail(s"${q.name}: no oracle-checked digest pinned")
          case Some(want) if want != got => res.fail(s"${q.name}: digest $got, pinned $want")
          case _ =>
        }
      } catch {
        case e: Throwable => res.fail(s"${q.name} (check): ${e.getMessage}")
      }
    }
    res.extra("checked_answers") = qs.size
    res.e2e("rss_peak_mb") = Common.rssPeakMb
    tr.detach()
    spark.stop()
  }

  /** Pin mode: every catalog query once cold (catalog order, fresh
    * session) and three times warm (median), then
    * its answer dumped for the oracle comparison and digested. Writes
    * `pin_raw.json` into the work dir.
    */
  def pin(ctx: Ctx, res: Result): Unit = {
    val spark = Common.setup(ctx, res)(_ => ())
    def timed(q: GraftQuery): Double = {
      val t0 = System.nanoTime()
      graft.Bench.materialize(q.build(spark, ctx.data))
      Common.secondsSince(t0)
    }
    val cold = families.map { case (_, q) => q.name -> timed(q) }.toMap
    val warm = (0 until 3).map(_ => families.map { case (_, q) => q.name -> timed(q) })
      .flatten.groupBy(_._1).map { case (n, xs) => n -> Stats.median(xs.map(_._2)) }
    val out = s"${ctx.work}/pin_out"
    val rows = families.map { case (f, q) =>
      val df = q.build(spark, ctx.data)
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/${q.name}")
      q.name -> Map("family" -> f, "cold_s" -> cold(q.name),
        "warm_s" -> warm(q.name), "digest" -> digest(df.collect().toSeq))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      Json.value(graft.SparkEntry.oracleSql))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${ctx.work}/pin_raw.json"),
      Json.value(rows.toMap))
    res.extra("pin_dir") = out
    spark.stop()
  }
}
