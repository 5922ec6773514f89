package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentiles interpolate linearly between order statistics") {
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 25) == 2.0)
    assert(Stats.median(xs) == 3.0)
    assert(Stats.percentile(xs, 100) == 5.0)
    assert(Stats.median(Seq(1.0, 2.0)) == 1.5)
    assert(Stats.percentile(Seq(7.0), 90) == 7.0)
  }

  test("the tail is the highest percentile with ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    val Some((p, v)) = Stats.tail(xs)
    assert(p == 90.0)
    assert(math.abs(v - 90.1) < 1e-9)
    assert(xs.count(_ > v) == 10)
    assert(Stats.tail((1 to 1000).map(_.toDouble)).map(_._1).contains(99.0))
    assert(Stats.tail((1 to 15).map(_.toDouble)).isEmpty)
  }

  test("unattributed time is the op wall share no span covers") {
    assert(math.abs(Stats.unattributed(Seq(1.0, 2.0), 4.0) - 0.25) < 1e-12)
    assert(Stats.unattributed(Seq(2.0, 2.0), 4.0) == 0.0)
    assert(Stats.unattributed(Nil, 0.0) == 0.0)
  }

  test("fingerprints ignore row order and see any changed row") {
    val a = Fingerprint.of(Iterator("x", "y", "z"))
    assert(a == Fingerprint.of(Iterator("z", "x", "y")))
    assert(a != Fingerprint.of(Iterator("x", "y", "w")))
    assert(a != Fingerprint.of(Iterator("x", "y")))
  }
}
