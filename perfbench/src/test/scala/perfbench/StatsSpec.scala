package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentile") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 5.0)
    assert(Stats.percentile(xs, 90) == 9.0)
    assert(Stats.percentile(xs, 100) == 10.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("the reported tail keeps at least ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
    for (n <- 1 to 5000) Stats.tailPercentile(n) match {
      case Some(p) =>
        assert(Stats.beyond(n, p) >= 10, s"n=$n p=$p")
        // no higher candidate would also have kept ten
        Stats.TailCandidates.filter(_ > p).foreach(q =>
          assert(Stats.beyond(n, q) < 10, s"n=$n: p$q also qualifies"))
      case None => assert(Stats.beyond(n, 50) < 10)
    }
  }

  test("failed operations count wrong outputs like errors and never exceed attempts") {
    val o = new Stats.Outcome
    assert(o.attempted == 0 && o.failed == 0)
    o.attempt(ok = true); o.attempt(ok = true); o.attempt(ok = false)
    assert(o.attempted == 3 && o.failed == 1)
    o.invalidate(1) // a later output check found one more wrong
    assert(o.failed == 2)
    o.invalidate(10)
    assert(o.attempted == 3 && o.failed == 3)
  }
}
