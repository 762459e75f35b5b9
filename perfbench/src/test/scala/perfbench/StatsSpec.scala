package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("a tail needs at least ten samples beyond it") {
    assert(Stats.tailLevel(10).isEmpty)
    assert(Stats.tailLevel(11).contains(1.0 - 10.0 / 11))
    assert(Stats.tailLevel(60).contains(1.0 - 10.0 / 60))
    assert(Stats.tailLevel(99).get < 0.90)
    assert(Stats.tailLevel(100).contains(0.90))
    assert(Stats.tailLevel(1000).contains(0.90))
  }

  test("the tail value leaves exactly ten samples above it below p90") {
    val xs = (1 to 60).map(_.toDouble)
    val Some((level, v)) = Stats.tail(xs)
    assert(xs.count(_ > v) == 10)
    assert(level < 0.9)
    val ys = (1 to 200).map(_.toDouble)
    assert(Stats.tail(ys).map(_._2).contains(180.0))
  }

  test("the steady state is the later half of the passes, the larger half when odd") {
    assert(Stats.steady(Seq(5.0, 4.0, 3.0, 2.0)) == Seq(3.0, 2.0))
    assert(Stats.steady(Seq(5.0, 4.0, 3.0, 2.0, 1.0)) == Seq(3.0, 2.0, 1.0))
    assert(Stats.steady(Seq(7.0)) == Seq(7.0))
  }

  test("nearest-rank percentile and median") {
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 0.5) == 2.0)
    assert(Stats.percentile((1 to 100).map(_.toDouble), 0.9) == 90.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("overlapping children are counted once in a span's self time") {
    // span 0..100; children 10..40 and 30..60 overlap on 30..40
    assert(Stats.selfTime((0, 100), Seq((10, 40), (30, 60))) == 50.0)
    // a child nested in another adds nothing
    assert(Stats.selfTime((0, 100), Seq((10, 60), (20, 30))) == 50.0)
    // disjoint children add up
    assert(Stats.selfTime((0, 100), Seq((0, 10), (90, 100))) == 80.0)
  }

  test("children are clipped to the span and self time never goes negative") {
    assert(Stats.selfTime((10, 20), Seq((0, 15))) == 5.0)
    assert(Stats.selfTime((10, 20), Seq((0, 30))) == 0.0)
    assert(Stats.selfTime((10, 20), Seq((25, 30))) == 10.0)
    assert(Stats.selfTime((10, 20), Nil) == 10.0)
  }

  test("union length ignores order and empty intervals") {
    assert(Stats.unionLength(Seq((5, 7), (0, 2), (1, 3), (6, 6))) == 5.0)
  }
}
