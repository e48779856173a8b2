package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("nearest-rank percentile") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 5.0)
    assert(Stats.percentile(xs, 90) == 9.0)
    assert(Stats.percentile(xs, 91) == 10.0)
    assert(Stats.percentile(xs, 100) == 10.0)
  }

  test("tail percentile keeps at least ten samples beyond it") {
    // 110 queries: p90 is rank 99, with 11 samples beyond
    assert(Stats.tailPercentile(110).contains(90))
    assert(Stats.rank(110, 90) == 99)
    assert(Stats.tailPercentile(100).contains(90))
    assert(Stats.tailPercentile(50).contains(80))
    assert(Stats.tailPercentile(20).contains(50))
    // fewer than 20 samples: not even the median has ten beyond it
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(1).isEmpty)
    for (n <- 20 to 500; p <- Stats.tailPercentile(n)) {
      assert(n - Stats.rank(n, p) >= 10, s"n=$n p=$p")
      assert(p == 99 || n - Stats.rank(n, p + 1) < 10, s"n=$n p=$p is not the highest")
    }
  }

  test("a typical round sums each kind's median, so one slow operation does not move it") {
    val rounds = Seq(
      Seq(Op("q01", Some(1.0)), Op("q02", Some(9.0))),
      Seq(Op("q02", Some(2.0)), Op("q01", Some(1.5))),
      Seq(Op("q01", Some(2.0)), Op("q02", Some(3.0))))
    assert(Stats.medianRound(rounds) == 1.5 + 3.0)
    // a night's load and fold are kinds across nights
    val nights = Seq(Seq(Op("load2", Some(6.0), "load"), Op("fold2", Some(7.0), "fold")),
      Seq(Op("load3", Some(8.0), "load"), Op("fold3", Some(5.0), "fold")))
    assert(Stats.medianRound(nights) == 7.0 + 6.0)
    assert(Stats.medianRound(Seq(Seq(Op("load2", None, "load")))).isPosInfinity)
  }

  test("a failed operation misses every latency limit") {
    val lat = Stats.withFailures(Seq(Some(1.0), None, Some(2.0)))
    assert(Stats.percentile(lat, 100).isPosInfinity)
    assert(Stats.median(lat) == 2.0)
    assert(Stats.median(Stats.withFailures(Seq(Some(1.0), None, None))).isPosInfinity)
  }

  test("failed_frac counts failures against attempts") {
    assert(Outcome(0, 0).failedFrac == 0.0)
    assert(Outcome(4, 1).failedFrac == 0.25)
    assertThrows[IllegalArgumentException](Outcome(1, 2))
  }

  test("an operation fails when it did not complete or a check names it") {
    val ok = Op("q01", Some(0.5))
    val broken = Op("q02", None)
    val wrong = Op("q03", Some(0.4))
    val checked = Checked(Seq("q03 returned 1 rows, the oracle 2"), Set("q03"))
    assert(Seq(ok, broken, wrong).map(checked.failed) == Seq(false, true, true))
    val ops = Seq(ok, broken, wrong)
    assert(Outcome(ops.size, ops.count(checked.failed)).failedFrac == 2.0 / 3)
  }
}
