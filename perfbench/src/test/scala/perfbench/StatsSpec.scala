package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def ms(n: Int) = (1 to n).map(_.toDouble)

  test("tail: highest ladder percentile with at least ten samples beyond") {
    // 100 samples: p90 leaves exactly 10 beyond, p95 only 5
    val t = Stats.tail(ms(100)).get
    assert(t.percentile == 90.0 && t.beyond == 10 && t.value == 90.0 && t.n == 100)
    // 1000 samples: p99 leaves 10 beyond
    assert(Stats.tail(ms(1000)).get.percentile == 99.0)
    // 10000 samples: p99.9 leaves 10 beyond
    assert(Stats.tail(ms(10000)).get.percentile == 99.9)
    // 99 samples: p90 would leave 9, so p75 (24 beyond)
    val t99 = Stats.tail(ms(99)).get
    assert(t99.percentile == 75.0 && t99.beyond == 24)
  }

  test("tail: none when even the median has fewer than ten beyond") {
    assert(Stats.tail(ms(19)).isEmpty)
    assert(Stats.tail(ms(20)).get.percentile == 50.0)
  }

  test("tail does not depend on sample order") {
    val xs = scala.util.Random.shuffle(ms(200).toList)
    assert(Stats.tail(xs) == Stats.tail(ms(200)))
  }

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("union of overlapping, nested, touching and empty intervals") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L))) == 15)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L))) == 10)
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 20L))) == 20)
    assert(Stats.unionLength(Seq((0L, 5L), (7L, 9L), (8L, 12L))) == 10)
    assert(Stats.unionLength(Seq((4L, 4L), (6L, 1L))) == 0)
    assert(Stats.unionLength(Nil) == 0)
  }

  test("clip keeps only the part inside the window") {
    assert(Stats.clip(Seq((0L, 10L), (20L, 30L), (40L, 50L)), 5L, 25L) ==
      Seq((5L, 10L), (20L, 25L)))
  }
}
