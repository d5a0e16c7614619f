package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail is the highest percentile with at least ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(21).contains(52.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(99).contains(89.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(9999).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
    (20 to 3000).foreach { n =>
      val p = Stats.tailPercentile(n).get
      assert(Stats.beyond(n, p) >= 10)
      Stats.TailCandidates.takeWhile(_ > p).foreach(q => assert(Stats.beyond(n, q) < 10))
    }
  }

  test("samples beyond a percentile are counted exactly, without float drift") {
    assert(Stats.beyond(100, 90.0) == 10)
    assert(Stats.beyond(1000, 99.0) == 10)
    assert(Stats.beyond(10000, 99.9) == 10)
    assert(Stats.beyond(99, 90.0) == 9)
  }

  test("tail falls back to a labelled median on small samples") {
    val xs = Seq(3.0, 1.0, 2.0)
    assert(Stats.tail(xs) == (2.0, "p50 (n=3 < 20)"))
    val (v, label) = Stats.tail((1 to 100).map(_.toDouble))
    assert(label == "p90")
    assert(math.abs(v - 90.1) < 1e-9)
  }

  test("percentile interpolates between closest ranks") {
    assert(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 50) == 2.5)
    assert(Stats.median(Seq(5.0)) == 5.0)
  }
}
