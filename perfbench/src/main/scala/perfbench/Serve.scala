package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** `serve`: a closed loop with one client. Each call sends one seeded
  * query to one of the six external search entries, in rounds of all six
  * in a seeded order. The corpus is the shipped corpus's `documents` and
  * `embeddings` up-sampled 10x by `graft.Sf1Data.generate`, built before
  * timing. Every answer is recomputed afterwards on another tier.
  */
object Serve {
  val UpSample = 10

  /** Corpus texts and vectors on the driver (untimed). */
  def corpus(spark: SparkSession, dir: String): (IndexedSeq[(Long, String)], IndexedSeq[Array[Float]]) = {
    val docs = Tables.load(spark, dir, "documents").select(col("doc_id"), col("text"))
      .filter(col("text").isNotNull).orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toIndexedSeq
    val vecs = Tables.load(spark, dir, "embeddings").orderBy(col("vec_id"))
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray).toIndexedSeq
    (docs, vecs)
  }

  /** One timed call: construct the answer's DataFrame, then collect it. */
  final case class Call(entry: String, q: Gen.Query, constructMs: Double,
      wallMs: Double, rows: Seq[Row], traced: Boolean)

  def call(ctx: Ctx, spark: SparkSession, dir: String, e: Entries.Entry,
      q: Gen.Query, span: String, trace: Long): Call = {
    val t0 = System.nanoTime()
    var t1 = 0L
    val rows = ctx.tracer.span(span, trace) {
      val df = e.call(spark, dir, q)
      t1 = System.nanoTime()
      df.collect().toSeq
    }
    val t2 = System.nanoTime()
    Call(e.name, q, (t1 - t0) / 1e6, (t2 - t0) / 1e6, rows, !ctx.tracer.paused)
  }

  /** Check one answer against the entry's other tier (phrase: a driver
    * recompute over the corpus texts).
    */
  def check(spark: SparkSession, dir: String, texts: Seq[(Long, String)],
      c: Call, res: Result): Unit = {
    val e = Entries.byName(c.entry)
    try {
      if (e.name == "phrase_text") {
        val want = Entries.phraseRecompute(texts, c.q.phrase)
        val got = c.rows.map(r => (r.getAs[Long]("n_id"), r.getAs[Long]("occurrences")))
        if (got != want) res.fail(s"phrase_text '${c.q.phrase}': got $got want $want")
      } else {
        val want = Entries.canon(Entries.withConf(spark, e.altTier) {
          e.call(spark, dir, c.q).collect().toSeq
        })
        val got = Entries.canon(c.rows)
        if (got != want) res.fail(s"${e.name}: ${got.take(3)} vs other tier ${want.take(3)}")
      }
    } catch {
      case ex: Throwable => res.fail(s"${e.name} check: ${ex.getMessage}")
    }
  }

  def run(ctx: Ctx, res: Result): Unit = {
    val dir = s"${ctx.work}/corpus"
    val tr = ctx.tracer
    val spark = Common.setup(ctx, res) { s =>
      graft.Sf1Data.generate(s, ctx.data, dir, UpSample,
        only = Some(Set("documents", "embeddings")))
    }
    val (docs, vecs) = corpus(spark, dir)
    val gen = new Gen.Queries(ctx.seed, docs.map(_._2), vecs)
    val rnd = new java.util.Random(ctx.seed)
    res.extra("provenance") = Common.provenance(ctx, spark)
    res.extra("shares") = gen.shares ++ Map("documents" -> docs.size,
      "vectors" -> vecs.size, "clients" -> 1, "loop" -> "closed")

    val calls = mutable.ArrayBuffer.empty[Call]
    def safe(e: Entries.Entry)(body: => Call): Option[Call] = {
      res.ops += 1
      try Some(body)
      catch { case ex: Throwable =>
        res.fail(s"${e.name}: ${ex.getClass.getSimpleName}: ${ex.getMessage}"); None }
    }

    // cold: the first call of each entry in the fresh session
    val cold = Entries.all.flatMap(e =>
      safe(e)(call(ctx, spark, dir, e, gen.next(), s"analytics.cold.${e.name}", 0)))
    calls ++= cold

    // closed loop: rounds of the six entries in seeded order
    val t0 = System.nanoTime()
    val rounds = mutable.ArrayBuffer.empty[(Double, Boolean)]
    val warm = mutable.ArrayBuffer.empty[Call]
    while (rounds.size < 2 || Common.secondsSince(t0) < ctx.seconds) {
      val traced = !ctx.traced || rounds.size % 2 == 1
      if (ctx.traced) { tr.paused = !traced; if (traced) tr.attach(spark) else tr.detach() }
      val order = scala.util.Random.javaRandomToRandom(rnd).shuffle(Entries.all)
      val r0 = System.nanoTime()
      order.foreach(e => safe(e)(call(ctx, spark, dir, e, gen.next(),
        s"analytics.serve.${e.name}", rounds.size + 1L)).foreach(warm += _))
      rounds += ((Common.secondsSince(r0), traced))
    }
    val loopS = Common.secondsSince(t0)
    tr.paused = false
    calls ++= warm

    val coldS = cold.map(_.wallMs).sum / 1e3
    val measured = warm.filter(_.traced).map(_.wallMs).toSeq
    res.e2e("cold_s") = coldS
    res.e2e("cycle_s") = Stats.median(rounds.filter(_._2).map(_._1).toSeq)
    Common.latency(res, "serve", measured)
    res.e2e("ops_per_s") = warm.size / loopS
    res.name("serve_cold_s", coldS, "s")
    res.name("serve_p50_ms", res.e2e("p50_ms"), "ms")
    res.name("serve_tail_ms", res.e2e("tail_ms"), "ms")
    res.name("serves_per_s", res.e2e("ops_per_s"), "1/s")

    if (ctx.traced) {
      res.perLayer("bench.trace_overhead_ms") = Stats.median(measured) -
        Stats.median(warm.filterNot(_.traced).map(_.wallMs).toSeq)
      layers(tr, res, warm.filter(_.traced).toSeq)
    }
    res.e2e("rss_peak_mb") = Common.rssPeakMb
    tr.detach()

    // output checks, untimed
    calls.foreach(c => check(spark, dir, docs, c, res))
    res.extra("checked_answers") = calls.size
    spark.stop()
  }

  /** analytics.cold.* from the first calls, analytics.serve.* from the
    * traced warm calls.
    */
  def layers(tr: Tracer, res: Result, warm: Seq[Call]): Unit = {
    for (e <- Layers.Entries) {
      val c = Common.perTrace(tr, s"analytics.cold.$e")
      res.perLayer(s"analytics.cold.$e.wall_s") = c.map(_.wallMs).sum / 1e3
      res.perLayer(s"analytics.cold.$e.spark_jobs") = c.map(_.jobs).sum
      val spans = tr.spans.filter(_.name == s"analytics.serve.$e")
      val cs = spans.map(tr.counters)
      val p = s"analytics.serve.$e"
      def m(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
      res.perLayer(s"$p.p50_ms") = m(warm.filter(_.entry == e).map(_.wallMs))
      res.perLayer(s"$p.construct_ms") = m(warm.filter(_.entry == e).map(_.constructMs))
      res.perLayer(s"$p.spark_jobs") = m(cs.map(_.jobs.toDouble))
      res.perLayer(s"$p.driver_ms") = m(cs.map(_.driverMs))
      res.perLayer(s"$p.task_ms") = m(cs.map(_.taskMs.toDouble))
      res.perLayer(s"$p.janino") = m(spans.map(_.janino.toDouble))
    }
  }
}
