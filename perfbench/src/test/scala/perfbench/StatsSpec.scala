package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("tail rule: the highest percentile with at least ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(39).contains(50.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(99).contains(75.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
  }

  test("tail reports the rule's percentile, and the median below twenty samples") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) == ((90.0, 90.0)))
    assert(Stats.tail((1 to 5).map(_.toDouble)) == ((50.0, 3.0)))
  }

  test("nearest-rank percentile and median") {
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    assert(Stats.percentile(xs, 50) == 3.0)
    assert(Stats.percentile(xs, 100) == 5.0)
    assert(Stats.percentile(xs, 1) == 1.0)
    assert(Stats.median(xs) == 3.0)
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 10.0)) == 2.5)
    intercept[IllegalArgumentException](Stats.median(Nil))
  }

  test("self time: interval union clipped to the parent span") {
    assert(Tracer.covered(Nil, 0, 10) == 0.0)
    assert(Tracer.covered(Seq((1.0, 3.0), (2.0, 5.0), (7.0, 8.0)), 0, 10) == 5.0)
    assert(Tracer.covered(Seq((-5.0, 2.0), (9.0, 20.0)), 0, 10) == 3.0)
  }

  test("run length: a fixed number of decks or passes per --seconds") {
    assert(Workload.units(15, 7.5) == 2)
    assert(Workload.units(15, 5.0) == 3)
    assert(Workload.units(16, 5.0) == 4)
    assert(Workload.units(1, 5.0) == 1)
    assert(Workload.traceSplit(1) == ((1, 1, 1)))
    assert(Workload.traceSplit(3) == ((1, 1, 1)))
    assert(Workload.traceSplit(8) == ((2, 4, 2)))
  }
}
