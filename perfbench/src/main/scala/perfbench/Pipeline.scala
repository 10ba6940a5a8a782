package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.{GraftConf, Tables}
import graft.jobs.{CombineJob, FetchJob, LoadJob}
import graft.streaming.StreamingPipeline

/** `pipeline`: the reference cadence repeated for [[Pipeline.Cycles]]
  * cycles. Per cycle: `FetchJob.run` per
  * listing page, `CombineJob.run`, `LoadJob.run`; then one `AvailableNow`
  * trigger each of the postings, phrase and takedown maintainers over the
  * cycle's new posts and takedowns; then the live corpus (shipped corpus
  * plus live posts: title as text, seeded vector) is republished and each
  * search entry answers once over it (the fresh serve), followed by warm
  * serves.
  */
object Pipeline {
  /** Warm rounds per cycle: 2 cycles x 5 rounds x 6 entries = 60 warm
    * serves, so the tail is p75 at rank 45: inside the samples of one
    * entry, not at the edge between two entries' latencies, where it
    * would read the maximum of a handful of serves.
    */
  val WarmRounds = 5
  /** Cycles per run, fixed so every commit measures the same work;
    * medians are taken over them.
    */
  val Cycles = 2
  /** Posts' ids in the live corpus start here, above the shipped corpus. */
  val PostIdBase = 1000000L

  def run(ctx: Ctx, res: Result): Unit = {
    val tr = ctx.tracer
    val conf = GraftConf.default
    val root = s"${ctx.work}/pipeline"
    def d(p: String) = s"$root/$p"
    val spark = Common.setup(ctx, res)(_ => ())

    // the shipped corpus, the base every published corpus extends
    val base = Tables.load(spark, ctx.data, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
      .orderBy(col("doc_id")).collect().toSeq
    val baseVecs = Tables.load(spark, ctx.data, "embeddings")
      .orderBy(col("vec_id")).select(col("vec_id"), col("embedding"), col("label"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2))).toIndexedSeq
    val words = base.flatMap(r => Option(r.getString(1)).toSeq)
      .flatMap(_.toLowerCase(java.util.Locale.ROOT).split("\\s+"))
      .filter(w => w.nonEmpty && w.forall(_.isLetter))
      .groupBy(identity).toSeq.sortBy { case (w, xs) => (-xs.size, w) }
      .map(_._1).take(2000).toIndexedSeq
    val gen = new Gen.Listings(ctx.seed, Gen.ListingShares(), words)
    val vrnd = new java.util.Random(ctx.seed ^ 0x5DEECE66DL)
    val postVec = mutable.HashMap.empty[Long, Array[Float]]
    def vecOf(docId: Long): Array[Float] = postVec.getOrElseUpdate(docId, {
      val b = baseVecs((docId % baseVecs.size).toInt)._2
      b.map(x => (x + vrnd.nextGaussian() * 0.1).toFloat)
    })
    val qrnd = new java.util.Random(ctx.seed * 31 + 7)
    res.extra("shares") = gen.shares.toMap ++ Map("warm_rounds" -> WarmRounds,
      "base_documents" -> base.size)

    var inputBytes = 0L
    var postsFetched = 0L
    val etl = mutable.ArrayBuffer.empty[Double]
    val fresh = mutable.ArrayBuffer.empty[Double]
    val publish = mutable.ArrayBuffer.empty[Double]
    val coldCalls = mutable.ArrayBuffer.empty[Serve.Call]
    val warm = mutable.ArrayBuffer.empty[Serve.Call]
    val staged = mutable.ArrayBuffer.empty[Long]
    val crossFileDups = mutable.ArrayBuffer.empty[Double]
    val inPageDups = mutable.ArrayBuffer.empty[Double]

    def land(df: org.apache.spark.sql.DataFrame, dir: String, name: String): Unit = {
      val tmp = d(s"tmp/$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      Files.createDirectories(Paths.get(dir))
      Files.move(Paths.get(part), Paths.get(s"$dir/$name.parquet"))
    }

    def trigger(name: String, cycle: Long)(q: => StreamingQuery): Unit =
      tr.span(s"streaming.$name", cycle) {
        val sq = q
        sq.awaitTermination()
        sq.exception.foreach(e => throw e)
      }

    def publishLive(cycle: Int): Unit = {
      import spark.implicits._
      val posts = gen.livePosts
      val docs = base.map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))) ++
        posts.map(p => (PostIdBase + p.docId, p.title, "en", "reddit"))
      val vecs = baseVecs ++ posts.map(p => (PostIdBase + p.docId, vecOf(p.docId), -1))
      val tmp = d(s"tmp/live_c$cycle")
      docs.toDF("doc_id", "text", "lang", "source")
        .withColumn("n_chars", length(col("text")).cast("long"))
        .coalesce(1).write.parquet(s"$tmp/documents.parquet")
      vecs.toDF("vec_id", "embedding", "label").coalesce(1)
        .write.parquet(s"$tmp/embeddings.parquet")
      for (t <- Seq("documents", "embeddings")) {
        val live = Paths.get(d(s"live/$t.parquet"))
        if (Files.exists(live)) deleteTree(live)
        Files.createDirectories(live.getParent)
        Files.move(Paths.get(s"$tmp/$t.parquet"), live, StandardCopyOption.ATOMIC_MOVE)
      }
    }

    /** Queries about one post: its title's first three tokens (within
      * the BM25 entry's three-term cut, so the post's unique leading
      * token is kept), its leading bigram, its vector plus noise.
      */
    def query(p: Gen.Post): Gen.Query = {
      val v = vecOf(p.docId).map(x => (x + qrnd.nextGaussian() * 0.02).toFloat)
      val ts = p.title.split(' ')
      Gen.Query(ts.take(3).mkString(" "), ts.take(2).mkString(" "), v, phraseMiss = false)
    }

    for (cycle <- 1 to Cycles) {
      val c = gen.next()
      crossFileDups += c.crossFileDupShare
      inPageDups += c.inPageDupShare
      // land the listing pages (the fetch source), untimed
      val pages = c.pages.map { pg =>
        val path = d(f"listings/c$cycle%04d_s${pg.sub}%02d_p${pg.page}%02d.json")
        Files.createDirectories(Paths.get(path).getParent)
        Files.writeString(Paths.get(path), pg.json)
        inputBytes += Files.size(Paths.get(path))
        postsFetched += pg.posts.size
        (pg, path)
      }
      val e0 = System.nanoTime()
      for ((pg, path) <- pages) {
        res.ops += 1
        tr.span("jobs.fetch", cycle) {
          FetchJob.run(spark, path,
            d(f"data/italytravel_c$cycle%04d_s${pg.sub}%02d_p${pg.page}%02d.csv"),
            conf, subreddit = s"sub${pg.sub}")
        }
      }
      res.ops += 2
      val combined = tr.span("jobs.combine", cycle) {
        CombineJob.run(spark, d("data"), d("combined"), d("loaded"), conf,
          outName = Some(f"combined_c$cycle%04d.csv"))
      }.get
      staged += Common.dirBytes(combined)
      tr.span("jobs.load", cycle)(LoadJob.run(spark, combined, d("table"), conf))
      val loadEnd = System.nanoTime()
      etl += (loadEnd - e0) / 1e9

      // the cycle's new posts and takedowns for the maintainers (glue)
      val g0 = System.nanoTime()
      locally {
        import spark.implicits._
        land(c.fresh.map(p => (PostIdBase + p.docId, p.title)).toDF("doc_id", "text"),
          d("in/docs"), f"c$cycle%04d")
        land(c.takedowns.map(p => PostIdBase + p.docId).toDF("doc_id"),
          d("in/takedown"), f"c$cycle%04d")
      }
      var glue = System.nanoTime() - g0
      res.ops += 3
      trigger("postings", cycle)(StreamingPipeline.startPostingsIngest(spark,
        d("in/docs"), d("idx/pst"), d("idx/dl"), d("ckpt/postings")))
      trigger("phrase", cycle)(StreamingPipeline.startPhraseIngest(spark,
        d("in/docs"), d("idx/bpst"), d("ckpt/phrase")))
      trigger("takedown", cycle)(StreamingPipeline.startTakedownIngest(spark,
        d("in/takedown"), d("idx/pst"), d("idx/dl"), d("ckpt/takedown")))
      val p0 = System.nanoTime()
      tr.span("bench.publish", cycle)(publishLive(cycle))
      val pubNs = System.nanoTime() - p0
      publish += pubNs / 1e9
      glue += pubNs

      // fresh serve: each entry once over this cycle's data
      val kept = c.fresh.filterNot(p => gen.takenDown(p.docId))
      val probe = kept(qrnd.nextInt(kept.size))
      val spanName = if (cycle == 1) "analytics.cold" else "analytics.fresh"
      val freshCalls = Entries.all.flatMap { e =>
        res.ops += 1
        try Some(Serve.call(ctx, spark, d("live"), e, query(probe),
          s"$spanName.${e.name}", cycle))
        catch { case ex: Throwable => res.fail(s"fresh ${e.name}: ${ex.getMessage}"); None }
      }
      fresh += (System.nanoTime() - loadEnd - glue) / 1e9
      if (cycle == 1) coldCalls ++= freshCalls
      // warm serves over the same corpus
      val live = gen.livePosts.toIndexedSeq
      val warmCalls = (0 until WarmRounds).flatMap { r =>
        if (ctx.traced) { tr.paused = r % 2 == 0; if (tr.paused) tr.detach() else tr.attach(spark) }
        Entries.all.flatMap { e =>
          res.ops += 1
          try Some(Serve.call(ctx, spark, d("live"), e,
            query(live(qrnd.nextInt(live.size))), s"analytics.serve.${e.name}", cycle))
          catch { case ex: Throwable => res.fail(s"warm ${e.name}: ${ex.getMessage}"); None }
        }
      }
      tr.paused = false
      tr.attach(spark)
      warm ++= warmCalls

      // checks, untimed
      checkTable(spark, d("table"), gen, conf, res)
      val liveIds = (base.map(_.getLong(0)) ++ gen.livePosts.map(PostIdBase + _.docId)).toSet
      for (call <- freshCalls ++ warmCalls) checkServed(call, liveIds, gen, res)
      for (call <- freshCalls if Set("bm25_text", "phrase_text")(call.entry)) {
        val ids = call.rows.map(_.getAs[Long]("n_id"))
        if (!ids.contains(PostIdBase + probe.docId))
          res.fail(s"cycle $cycle ${call.entry}: new post ${probe.docId} not served")
      }
    }
    val stored = Seq("table", "idx").map(p => Common.dirBytes(d(p))).sum
    val measured = warm.filter(_.traced).map(_.wallMs).toSeq
    res.e2e("cold_s") = coldCalls.map(_.wallMs).sum / 1e3
    res.e2e("cycle_s") = Stats.median(etl.indices.map(i => etl(i) + fresh(i)))
    Common.latency(res, "serve", measured)
    res.e2e("ops_per_s") = postsFetched / Cycles / Stats.median(etl.toSeq)
    res.name("etl_p50_s", Stats.median(etl.toSeq), "s")
    res.name("posts_per_s", res.e2e("ops_per_s"), "1/s")
    res.name("fresh_p50_s", Stats.median(fresh.toSeq), "s")
    res.name("serve_p50_ms", res.e2e("p50_ms"), "ms")
    res.name("stored_bytes_per_input_byte", stored.toDouble / inputBytes, "ratio")
    res.extra("cycles") = Cycles
    res.extra("per_cycle") = Map("etl_s" -> etl.toSeq, "fresh_s" -> fresh.toSeq,
      "publish_s" -> publish.toSeq, "cross_file_dup_share" -> crossFileDups.toSeq,
      "in_page_dup_share" -> inPageDups.toSeq)
    res.extra("posts_fetched") = postsFetched

    if (ctx.traced) {
      res.perLayer("bench.trace_overhead_ms") = Stats.median(measured) -
        Stats.median(warm.filterNot(_.traced).map(_.wallMs).toSeq)
      for (j <- Seq("fetch", "combine", "load")) {
        val a = Common.perTrace(tr, s"jobs.$j")
        res.perLayer(s"jobs.$j.wall_s") = Common.med(a)(_.wallMs) / 1e3
        res.perLayer(s"jobs.$j.spark_jobs") = Common.med(a)(_.jobs)
        res.perLayer(s"jobs.$j.task_s") = Common.med(a)(_.taskMs) / 1e3
        res.perLayer(s"jobs.$j.driver_s") = Common.med(a)(_.driverMs) / 1e3
        res.perLayer(s"jobs.$j.shuffle_bytes") = Common.med(a)(_.shuffleBytes)
        res.perLayer(s"jobs.$j.bytes_written") = Common.med(a)(_.bytesWritten)
      }
      val loads = Common.perTrace(tr, "jobs.load")
      res.perLayer("jobs.load.rewrite_ratio") = Stats.median(
        loads.zip(staged).map { case (a, s) => a.bytesWritten / s.toDouble })
      for (m <- Seq("postings", "phrase", "takedown")) {
        val a = Common.perTrace(tr, s"streaming.$m")
        res.perLayer(s"streaming.$m.trigger_s") = Common.med(a)(_.wallMs) / 1e3
        res.perLayer(s"streaming.$m.bytes_written") = Common.med(a)(_.bytesWritten)
      }
      res.perLayer("bench.publish_s") = Stats.median(publish.toSeq)
      Serve.layers(tr, res, warm.filter(_.traced).toSeq)
    }
    res.e2e("rss_peak_mb") = Common.rssPeakMb
    res.extra("provenance") = Common.provenance(ctx, spark)
    tr.detach()
    spark.stop()
  }

  /** The serving table equals first-wins + upsert over the generator's
    * ground truth: same keys, same update-column values.
    */
  def checkTable(spark: SparkSession, dir: String, gen: Gen.Listings,
      conf: GraftConf, res: Result): Unit = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def key(id: String) = md.digest((conf.salt + "t3_" + id).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val want = gen.truth.map { case (id, e) =>
      key(id) -> (e.score.toInt, e.comments.toInt, e.title, e.subreddit, e.flair.orNull)
    }.toMap
    val got = spark.read.parquet(dir)
      .select("thing_key", "score", "num_comments", "title_sanitized", "subreddit", "flair_text")
      .collect().map(r => r.getString(0) ->
        (r.getInt(1), r.getInt(2), r.getString(3), r.getString(4), r.getString(5))).toSeq
    if (got.size != got.map(_._1).distinct.size) res.fail(s"table: duplicate keys")
    val gotMap = got.toMap
    if (gotMap.keySet != want.keySet)
      res.fail(s"table: ${gotMap.size} keys, want ${want.size} " +
        s"(missing ${(want.keySet -- gotMap.keySet).size}, extra ${(gotMap.keySet -- want.keySet).size})")
    val bad = want.count { case (k, v) => gotMap.get(k).exists(_ != v) }
    if (bad > 0) res.fail(s"table: $bad rows differ from first-wins + upsert, e.g. " +
      want.find { case (k, v) => gotMap.get(k).exists(_ != v) }
        .map { case (k, v) => s"$v vs ${gotMap(k)}" }.get)
  }

  /** No served id is taken down or outside the live corpus. */
  def checkServed(c: Serve.Call, live: Set[Long], gen: Gen.Listings, res: Result): Unit = {
    val ids = c.rows.map(_.getAs[Long]("n_id"))
    val down = ids.filter(i => i >= PostIdBase && gen.takenDown(i - PostIdBase))
    if (down.nonEmpty) res.fail(s"${c.entry}: served taken-down posts $down")
    val unknown = ids.filterNot(live)
    if (unknown.nonEmpty) res.fail(s"${c.entry}: served ids outside the live corpus $unknown")
  }

  def deleteTree(p: java.nio.file.Path): Unit = {
    val st = Files.walk(p)
    try st.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally st.close()
  }
}
