package perfbench

import scala.collection.mutable

/** Seeded input generators. Everything the engine sees is produced
  * here from the seed (listing pages, takedown requests, serve
  * queries); the same seed yields byte-identical inputs.
  */
object Gen {

  /** Zipf(s) over ranks 0 until n by inverse-CDF lookup. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = (1 to n).map(r => 1.0 / math.pow(r, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def draw(rnd: java.util.Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Letters-only rendering of a number: a token no tokenizer splits and
    * no title sanitizer rewrites.
    */
  def letters(n: Long): String = {
    val sb = new StringBuilder
    var x = n
    do { sb.append(('a' + (x % 26).toInt).toChar); x /= 26 } while (x > 0)
    sb.reverse.toString
  }

  // ------------------------------------------------------------ listings

  /** Shapes of the listing generator; recorded in every result. Only
    * `postsPerPage` (the reference's `fetchLimit`) and `fetchesPerCycle`
    * (fetch every 10 minutes, combine and load hourly) come from the
    * reference; the others are assumptions, argued in the README.
    */
  final case class ListingShares(
      subreddits: Int = 1,
      fetchesPerCycle: Int = 6,
      postsPerPage: Int = 40,
      arrivalsPerFetch: Double = 2.0,
      missingName: Double = 0.05,
      emptyPermalink: Double = 0.05,
      zeroCreated: Double = 0.05,
      dupsPerPage: Int = 2,
      takedownShare: Double = 0.04) {
    def toMap: Map[String, Any] = Map(
      "subreddits" -> subreddits, "fetches_per_cycle" -> fetchesPerCycle,
      "posts_per_page" -> postsPerPage,
      "arrivals_per_fetch" -> arrivalsPerFetch,
      "missing_name_share" -> missingName,
      "empty_permalink_share" -> emptyPermalink,
      "zero_created_share" -> zeroCreated, "dups_per_page" -> dupsPerPage,
      "takedown_share" -> takedownShare)
  }

  /** One post as the listing API reports it at one point in time. */
  final case class Post(docId: Long, sub: Int, id: String, title: String,
      author: String, created: Double, score: Long, comments: Long,
      flair: Option[String]) {
    def subreddit: String = s"sub${sub}"
    def permalink: String = s"/r/$subreddit/comments/$id/${title.split(' ').head}/"
  }

  /** The serving row the reference's upsert must leave for a post. */
  final case class Expected(score: Long, comments: Long, title: String,
      subreddit: String, flair: Option[String])

  /** A page as landed: the listing JSON text plus its posts in order. */
  final case class Page(sub: Int, page: Int, json: String, posts: Seq[Post])

  /** One combine/load cycle's input. `crossFileDupShare` is the measured
    * share of the cycle's rows whose post an earlier page of the cycle
    * already held; `inPageDupShare` the share that repeat a post of their
    * own page.
    */
  final case class Cycle(pages: Seq[Page], fresh: Seq[Post],
      takedowns: Seq[Post], crossFileDupShare: Double, inPageDupShare: Double)

  /** Listing pages over cycles, modelled on the reference's fetch of
    * `/r/<sub>/new.json` with limit 40 every 10 minutes: each page is a
    * snapshot of the subreddit's newest live posts. Between two fetches a
    * Poisson number of posts arrives and every listed post gains score
    * and comments, so an hour's pages are mostly the same posts with
    * newer counts. Pages carry the reference's dirty shapes (missing
    * `name`, empty `permalink`, `created_utc` 0, duplicate ids within a
    * page), and a share of live posts is taken down each cycle; a
    * taken-down post leaves the listing. Also keeps the ground truth:
    * first-wins over the cycle's files in landing order, then upsert.
    */
  final class Listings(seed: Long, val shares: ListingShares,
      words: IndexedSeq[String]) {
    private val rnd = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 17)
    private val zipf = new Zipf(words.size, 1.05)
    private val perPage = shares.postsPerPage - shares.dupsPerPage
    private var nextDoc = 0L
    private var fetches = 0L
    /** Live posts per subreddit, oldest first; starts with a page's worth. */
    private val live = Array.tabulate(shares.subreddits)(sub =>
      mutable.ArrayBuffer.tabulate(perPage)(i => newPost(sub, -(perPage - i) * 300.0)))
    private var backlog: Seq[Post] = live.toSeq.flatMap(_.toSeq)
    val truth = mutable.LinkedHashMap.empty[String, Expected] // by fullname
    val takenDown = mutable.LinkedHashSet.empty[Long]

    private def newPost(sub: Int, at: Double): Post = {
      nextDoc += 1
      val n = 3 + rnd.nextInt(6)
      val title = ("zq" + letters(nextDoc * 7919 + seed)) +:
        Seq.fill(n)(words(zipf.draw(rnd)))
      Post(nextDoc, sub, java.lang.Long.toString(1000000L + nextDoc * 31, 36),
        title.mkString(" "), s"user${rnd.nextInt(500)}",
        1.7e9 + at, rnd.nextInt(50), rnd.nextInt(10),
        if (rnd.nextDouble() < 0.3) Some(Seq("Itinerary", "Question", "Food")(rnd.nextInt(3))) else None)
    }

    /** Knuth's Poisson draw; the means used here are small. */
    private def poisson(mean: Double): Int = {
      val l = math.exp(-mean)
      var k = 0
      var p = rnd.nextDouble()
      while (p > l) { k += 1; p *= rnd.nextDouble() }
      k
    }

    private def childJson(p: Post): String = {
      val f = mutable.ArrayBuffer.empty[(String, Any)]
      if (rnd.nextDouble() >= shares.missingName) f += "name" -> s"t3_${p.id}"
      f += "id" -> p.id
      f += "created_utc" -> (if (rnd.nextDouble() < shares.zeroCreated) 0.0 else p.created)
      f += "score" -> p.score
      f += "num_comments" -> p.comments
      f += "title" -> p.title
      f += "author" -> p.author
      f += "permalink" -> (if (rnd.nextDouble() < shares.emptyPermalink) "" else p.permalink)
      f += "subreddit" -> p.subreddit
      f += "link_flair_text" -> p.flair
      "{\"kind\":\"t3\",\"data\":" + Json.obj(f.toSeq) + "}"
    }

    /** One fetch of `sub`'s listing: arrivals, count updates, snapshot. */
    private def fetch(sub: Int, page: Int, atLeastOne: Boolean): (Page, Seq[Post]) = {
      val pool = live(sub)
      val n = poisson(shares.arrivalsPerFetch)
      val created = (0 until (if (atLeastOne) math.max(1, n) else n))
        .map(i => newPost(sub, fetches * 600.0 + i))
      pool ++= created
      val listed = math.max(0, pool.size - perPage) until pool.size
      for (i <- listed if !created.contains(pool(i))) {
        val p = pool(i)
        pool(i) = p.copy(score = p.score + rnd.nextInt(8), comments = p.comments + rnd.nextInt(2))
      }
      val ps = listed.reverse.map(pool(_)).toVector // newest first, as /new lists
      // duplicate ids within the page: a later copy with a different
      // score that first-wins must drop
      val withDups = (0 until shares.dupsPerPage).foldLeft(ps) { (acc, _) =>
        val d = acc(rnd.nextInt(ps.size))
        acc :+ d.copy(score = d.score + 1000)
      }
      val json = withDups.map(childJson).mkString(
        "{\"kind\":\"Listing\",\"data\":{\"children\":[", ",", "]}}")
      (Page(sub, page, json, withDups), created)
    }

    def next(): Cycle = {
      val fresh = mutable.ArrayBuffer.empty[Post] ++ backlog
      backlog = Nil
      val pages = (0 until shares.fetchesPerCycle).flatMap { f =>
        fetches += 1
        (0 until shares.subreddits).map { sub =>
          // every cycle has a new post, so every cycle can probe freshness
          val (pg, created) = fetch(sub, f,
            atLeastOne = f == shares.fetchesPerCycle - 1 && fresh.isEmpty)
          fresh ++= created
          pg
        }
      }.sortBy(pg => (pg.sub, pg.page)) // landing (file name) order
      // ground truth: first occurrence per post in landing order wins,
      // then the upsert overwrites the update columns
      val seen = mutable.HashSet.empty[String]
      var crossFile, inPage = 0
      for (pg <- pages) {
        val before = seen.clone()
        val onPage = mutable.HashSet.empty[String]
        for (p <- pg.posts) {
          if (!onPage.add(p.id)) inPage += 1 else if (before(p.id)) crossFile += 1
          if (seen.add(p.id))
            truth(p.id) = Expected(p.score, p.comments, p.title, p.subreddit, p.flair)
        }
      }
      val rows = pages.map(_.posts.size).sum.toDouble
      // takedowns hit posts older than the cycle when there are any, so
      // the cycle's new posts stay live for the fresh serve
      val freshIds = fresh.map(_.docId).toSet
      val downs = (0 until shares.subreddits).flatMap { sub =>
        val pool = live(sub)
        val k = (pool.size * shares.takedownShare).round.toInt
        val older = pool.indices.filterNot(i => freshIds(pool(i).docId))
        val idx = shuffle(if (older.nonEmpty) older else pool.indices)
          .take(k).sorted.reverse
        idx.map(i => pool.remove(i))
      }
      downs.foreach(p => takenDown += p.docId)
      Cycle(pages, fresh.toSeq, downs, crossFile / rows, inPage / rows)
    }

    def livePosts: Seq[Post] = live.toSeq.flatMap(_.toSeq).sortBy(_.docId)

    private def shuffle[T](xs: Seq[T]): Seq[T] = {
      val a = xs.toArray[Any]
      var i = a.length - 1
      while (i > 0) {
        val j = rnd.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
        i -= 1
      }
      a.toSeq.asInstanceOf[Seq[T]]
    }
  }

  // ------------------------------------------------------------- queries

  /** One call's query values; each entry uses the parts it takes. */
  final case class Query(text: String, phrase: String, vec: Array[Float],
      phraseMiss: Boolean)

  /** Serve queries over a corpus: text queries draw Zipf-skewed corpus
    * terms, phrases are sampled n-grams (n = 2..4, a share made misses
    * by a token no document holds), vectors are corpus vectors plus
    * Gaussian noise.
    */
  final class Queries(seed: Long, texts: IndexedSeq[String],
      vecs: IndexedSeq[Array[Float]], val missShare: Double = 0.2,
      val noise: Double = 0.05) {
    private val rnd = new java.util.Random(seed * 0xBF58476D1CE4E5B9L + 29)
    private val toks = texts.map(_.toLowerCase(java.util.Locale.ROOT)
      .split("\\s+").filter(_.nonEmpty).toIndexedSeq)
    private val terms: IndexedSeq[String] = toks.flatten
      .groupBy(identity).toSeq.map { case (t, xs) => (t, xs.size) }
      .sortBy { case (t, c) => (-c, t) }.map(_._1).toIndexedSeq
    private val zipf = new Zipf(terms.size, 1.0)
    private val phraseDocs = toks.indices.filter(i => toks(i).size >= 4)

    def next(): Query = {
      val text = Seq.fill(2 + rnd.nextInt(4))(terms(zipf.draw(rnd))).mkString(" ")
      val d = toks(phraseDocs(rnd.nextInt(phraseDocs.size)))
      val n = 2 + rnd.nextInt(3)
      val at = rnd.nextInt(d.size - n + 1)
      val miss = rnd.nextDouble() < missShare
      val gram = d.slice(at, at + n)
      val phrase = (if (miss) gram.init :+ "zzmiss" else gram).mkString(" ")
      val base = vecs(rnd.nextInt(vecs.size))
      val vec = base.map(x => (x + rnd.nextGaussian() * noise).toFloat)
      Query(text, phrase, vec, miss)
    }

    def shares: Map[String, Any] = Map("phrase_miss_share" -> missShare,
      "vector_noise_sd" -> noise, "zipf_s" -> 1.0, "terms" -> terms.size)
  }
}
