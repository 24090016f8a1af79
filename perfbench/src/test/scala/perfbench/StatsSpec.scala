package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("quantiles interpolate between closest ranks") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.median(xs) == 5.5)
    assert(math.abs(Stats.quantile(xs, 0.9) - 9.1) < 1e-12)
    assert(Stats.quantile(xs, 0.0) == 1.0 && Stats.quantile(xs, 1.0) == 10.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.quantile(Seq(7.0), 0.9) == 7.0)
    assertThrows[IllegalArgumentException](Stats.quantile(Nil, 0.5))
  }

  test("a call that throws is a failure, not a time") {
    val ok = Stats.timed("a")(())
    val bad = Stats.timed("a")(throw new IllegalStateException("boom"))
    val other = Stats.timed("b")(())
    val all = Seq(ok, bad, other)
    assert(ok.ok && !bad.ok && bad.error.exists(_.getMessage == "boom"))
    assert(Stats.tally(all) == Stats.Tally(3, 1))
    assert(Stats.latencies(all) == Seq(ok.latencyMs, other.latencyMs))
    assert(Stats.latencies(all, Some("a")) == Seq(ok.latencyMs))
    assert(Stats.tally(Nil) == Stats.Tally(0, 0))
  }
}
