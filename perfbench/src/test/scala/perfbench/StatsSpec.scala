package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("the tail is the highest percentile with at least 10 samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    val t = Stats.tail(xs).get
    assert(t.value == 90.0)
    assert(t.percentile == 90.0)
    assert(t.samples == 100)
    assert(xs.count(_ > t.value) == Stats.TailBeyond)
  }

  test("the tail moves up as samples grow, always leaving 10 beyond") {
    for (n <- Seq(11, 37, 250, 1000, 4321)) {
      val xs = scala.util.Random.shuffle((1 to n).map(_.toDouble))
      val t = Stats.tail(xs).get
      assert(xs.count(_ > t.value) == 10, s"n=$n")
      assert(math.abs(t.percentile - 100.0 * (n - 10) / n) < 1e-9)
    }
  }

  test("ten samples or fewer have no tail") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    assert(Stats.tail(Nil).isEmpty)
  }

  test("a failed operation ranks above every answered one, however fast it failed") {
    val answered = Seq.fill(30)(Outcome(Op.MetricsRead, ok = true, 5000000L, 0L, 5L))
    val failed = Seq.fill(11)(Outcome(Op.MetricsRead, ok = false, 1000L, 0L, 0L))
    val ms = (answered ++ failed).map(_.latencyMs)
    assert(Stats.median(ms) == 5.0)
    assert(Stats.tail(ms).get.value.isPosInfinity)
    assert(Stats.tail(answered.map(_.latencyMs) ++ failed.take(10).map(_.latencyMs)).get.value == 5.0)
  }

  test("median") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }
}
