package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private val words = (0 until 300).map(i => Gen.letters(i + 1000))

  private def listings(seed: Long, cycles: Int) = {
    val g = new Gen.Listings(seed, Gen.ListingShares(), words)
    val cs = (1 to cycles).map(_ => g.next())
    (cs.flatMap(_.pages.map(_.json)), cs.flatMap(_.takedowns.map(_.docId)), g)
  }

  test("listing pages and takedowns are byte-identical for one seed") {
    val (a, da, _) = listings(5, 3)
    val (b, db, _) = listings(5, 3)
    assert(a == b && da == db)
    val (c, _, _) = listings(6, 3)
    assert(a != c)
  }

  test("pages have the configured size and dirty shapes") {
    val (pages, _, _) = listings(3, 4)
    val all = pages.mkString
    assert(pages.size == 4 * Gen.ListingShares().fetchesPerCycle)
    assert(pages.forall(_.split("\"kind\":\"t3\"").length - 1 == 40))
    assert(all.contains("\"permalink\":\"\""))
    assert(all.contains("\"created_utc\":0.0"))
    assert(pages.exists(p => p.split("\"kind\":\"t3\"").count(!_.contains("\"name\"")) > 1))
  }

  test("ground truth: first occurrence in landing order wins within a cycle") {
    val g = new Gen.Listings(9, Gen.ListingShares(), words)
    val c = g.next()
    val first = c.pages.flatMap(_.posts).groupBy(_.id).map { case (id, ps) => id -> ps.head }
    // within-page duplicates carry a higher score that must lose
    assert(first.forall { case (id, p) => g.truth(id).score == p.score })
    assert(c.pages.flatMap(_.posts).size > first.size)
  }

  test("an hour's pages are snapshots of one listing: most rows repeat an earlier page") {
    val g = new Gen.Listings(7, Gen.ListingShares(), words)
    val c1 = g.next()
    val c2 = g.next()
    // 2 arrivals per fetch on average: each page keeps ~36 of the 38 posts
    // of the page before, so ~5/6 x 36/40 of a cycle's rows repeat
    assert(c2.crossFileDupShare > 0.6 && c2.crossFileDupShare < 0.9)
    assert(c2.inPageDupShare == 2.0 / 40)
    val posts = c2.pages.map(_.posts.map(_.id).toSet)
    assert(posts.zip(posts.tail).forall { case (a, b) => (a & b).size >= 30 })
    // a re-seen post's counts never fall between fetches
    val scores = c2.pages.flatMap(_.posts.distinct.groupBy(_.id).map { case (id, ps) => id -> ps.head.score })
    assert(scores.groupBy(_._1).values.forall(xs => xs.map(_._2) == xs.map(_._2).sorted))
    // the first cycle lands the listing's backlog plus the arrivals
    assert(c1.fresh.size >= 38 && c2.fresh.nonEmpty && c2.fresh.size < 38)
  }

  test("re-seen posts dominate later cycles; taken-down posts never return") {
    val (_, _, g) = listings(11, 1)
    val c2 = g.next()
    val ids = c2.pages.flatMap(_.posts).map(_.docId).toSet
    assert(c2.fresh.size < ids.size / 2)
    assert(ids.intersect(g.takenDown).isEmpty || c2.takedowns.nonEmpty)
    val c3 = g.next()
    assert(c3.pages.flatMap(_.posts).map(_.docId).toSet.intersect(
      g.takenDown -- c3.takedowns.map(_.docId)).isEmpty)
  }

  test("serve queries are identical for one seed and vary with it") {
    val texts = (0 until 50).map(i => (0 until 8).map(j => words((i * 7 + j * 3) % 300)).mkString(" "))
    val vecs = (0 until 50).map(i => Array.tabulate(8)(j => (i * j % 5).toFloat))
    def draw(seed: Long) = {
      val q = new Gen.Queries(seed, texts, vecs)
      (0 until 30).map(_ => q.next()).map(x => (x.text, x.phrase, x.vec.toSeq, x.phraseMiss))
    }
    assert(draw(1) == draw(1))
    assert(draw(1) != draw(2))
    val qs = draw(4)
    assert(qs.forall { case (_, p, _, _) => (2 to 4).contains(p.split(' ').length) })
    assert(qs.exists(_._4) && qs.exists(!_._4))
  }
}
