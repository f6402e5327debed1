package eltbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("the tail has at least 10 samples beyond it and is never below the p50") {
    val rnd = new scala.util.Random(7)
    (1 to 200).foreach { n =>
      val xs = Seq.fill(n)(rnd.nextDouble() * 10)
      val p50 = Stats.p50(xs)
      val tail = Stats.tail(xs)
      assert(tail.value >= p50.value, s"n=$n")
      assert(tail.n == n && p50.n == n)
      if (tail.percentile > 50) assert(xs.count(_ > tail.value) >= 10, s"n=$n")
    }
  }

  test("the tail percentile is the nearest rank n - 10") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) == Stats.Pct(90.0, 90.0, 100))
    // too few samples for a tail beyond the middle: the tail is the median
    assert(Stats.tail((1 to 12).map(_.toDouble)) == Stats.p50((1 to 12).map(_.toDouble)))
  }

  test("a failed operation is never a fast sample") {
    val ops = Seq(Some(1.0), None, Some(2.0))
    val xs = Stats.samples(ops)
    assert(xs.length == 3)
    assert(xs.max.isPosInfinity)
    assert(Stats.median(xs) == 2.0)
  }

  test("failures count against attempts, checks included") {
    val r = new Result
    assert(r.attempt("ok")(1.5).contains(1.5))
    assert(r.attempt("boom")(throw new IllegalStateException("boom")).isEmpty)
    r.check("holds", ok = true, "")
    r.check("broken", ok = false, "")
    assert(r.attempted == 4)
    assert(r.failed == 2)
    assert(r.attempts.map(_._2) == Seq(Some(1.5), None))
  }

  test("union of job intervals") {
    assert(Stats.unionSeconds(Seq((0L, 1000L), (500L, 1500L), (3000L, 3500L))) == 2.0)
    assert(Stats.unionSeconds(Nil) == 0.0)
  }

  test("traced passes interleave U T T U and the last pass is untraced") {
    assert(EltBench.interleave(4, traced = false) == Seq.fill(4)(false))
    assert(EltBench.interleave(4, traced = true) == Seq(false, true, true, false))
    assert(EltBench.interleave(3, traced = true) == Seq(false, true, true, false))
    assert(EltBench.interleave(6, traced = true).count(identity) == 3)
  }
}
