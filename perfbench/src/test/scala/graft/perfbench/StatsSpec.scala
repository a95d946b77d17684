package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("p99 is refused below ten samples beyond it and given from 1,000") {
    val xs = (1 to 1009).map(_.toDouble)
    assert(Stats.percentile(xs.take(999), 0.99).isLeft)
    assert(Stats.percentile(xs.take(1009), 0.99) == Right(999.0))
    assert(Stats.percentile(xs.take(1000), 0.99) == Right(990.0))
  }

  test("p50 needs twenty samples") {
    val xs = (1 to 20).map(_.toDouble)
    assert(Stats.percentile(xs.take(19), 0.5).isLeft)
    assert(Stats.percentile(xs, 0.5) == Right(10.0))
  }

  test("the refusal says why") {
    val Left(why) = Stats.percentile(Seq(1.0, 2.0, 3.0), 0.99)
    assert(why.contains("10 samples beyond"), why)
  }

  test("weighted samples count once per weight") {
    // two passes of 1,000 documents each: p50 is the faster pass, p99 the slower
    val v = Seq(700.0, 500.0)
    val w = Seq(1000L, 1000L)
    assert(Stats.percentile(v, w, 0.5) == Right(500.0))
    assert(Stats.percentile(v, w, 0.99) == Right(700.0))
  }

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }
}
