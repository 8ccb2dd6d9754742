package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentile is the nearest-rank order statistic") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50).isEmpty || Stats.median(xs) == 50.0)
    assert(Stats.percentile(xs, 90).contains(90.0))
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.0) // lower median
  }

  test("mean of the operations of a run") {
    assert(Stats.mean(Seq(10.0, 7.0, 7.0)) == 8.0)
    assert(Stats.mean(Seq(2.5)) == 2.5)
    assert(Stats.mean(Nil).isNaN) // no operation: no figure, and the run fails
  }

  test("a tail percentile needs at least ten samples beyond it") {
    assert(Stats.beyond(100, 90) == 10)
    assert(Stats.percentile((1 to 100).map(_.toDouble), 90).isDefined)
    assert(Stats.percentile((1 to 99).map(_.toDouble), 90).isEmpty)
    assert(Stats.percentile((1 to 999).map(_.toDouble), 99).isEmpty)
    assert(Stats.percentile((1 to 1000).map(_.toDouble), 99).contains(990.0))
    assert(Stats.percentile(Nil, 50).isEmpty)
  }

  test("union of task intervals counts overlaps once") {
    assert(Stats.unionLength(Nil) == 0L)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L)
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 10L), (2L, 3L))) == 20L)
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 12L))) == 12L)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 6L))) == 0L)
  }

  test("time outside tasks is wall time minus the covered part") {
    // tasks reaching past the call are clipped to it
    assert(Stats.outside(100L, 200L, Seq((90L, 120L), (150L, 160L), (155L, 250L))) == 30L)
    assert(Stats.outside(0L, 50L, Nil) == 50L)
  }
}
