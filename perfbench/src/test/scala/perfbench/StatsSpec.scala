package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank quantiles") {
    val xs = (1 to 100).map(_.toDouble).toArray
    assert(Stats.quantile(xs, 0.5) === 50.0)
    assert(Stats.quantile(xs, 0.99) === 99.0)
    assert(Stats.quantile(xs, 1.0) === 100.0)
    assert(Stats.quantile(xs, 0.001) === 1.0)
    assert(Stats.quantile(Array(4.0), 0.99) === 4.0)
    assert(Stats.quantile(Array(1.0, 2.0, 3.0), 0.5) === 2.0)
    assert(Stats.quantile(Array(1.0, 2.0, 3.0, 4.0), 0.5) === 2.0)
  }

  test("samples beyond a percentile decide whether it is backed") {
    assert(Stats.beyond(100, 0.99) === 1)
    assert(Stats.beyond(1000, 0.99) === 10)
    assert(Stats.beyond(999, 0.99) === 9)
    assert(Stats.beyond(10, 0.5) === 5)
    val s = Stats.summarize(Array.tabulate(1000)(i => (999 - i).toDouble))
    assert(s.n === 1000 && s.p50 === 499.0 && s.p90 === 899.0 && s.p99 === 989.0 && s.p99Backed)
    assert(!Stats.summarize(Array.fill(999)(1.0)).p99Backed)
  }

  test("sliced medians: a burst in a few slices does not move the figure") {
    // ten slices of 100 samples at 1.0 ms, two of them spoiled by a stall
    val xs = Array.tabulate(1000)(i => if (i >= 300 && i < 500) 50.0 else 1.0)
    assert(Stats.sliced(xs, 10, 0.5) === 1.0)
    assert(Stats.quantile(xs.sorted, 0.9) === 50.0)
    // slices keep the order requests were due in, not sorted order
    assert(Stats.sliced(Array.tabulate(100)(_.toDouble), 10, 0.5) === 44.0)
  }

  test("sliced rate: the median slice's rate of good requests") {
    val c = Load.Closed(done = 100, good = 100, units = 100, failed = 0, seconds = 10.0,
      latMsByThread = IndexedSeq.empty,
      // 10 per second, except an empty stretch from 3 s to 5 s
      goodAtS = (0 until 100).map(i => i * 0.1).filterNot(t => t >= 3.0 && t < 5.0).toArray)
    assert(c.slicedGoodPerS(10) === 10.0)
  }

  test("sample buffers grow and keep every sample") {
    val b = new Stats.Samples
    (1 to 5000).foreach(i => b.add(i.toDouble))
    assert(b.size === 5000)
    assert(b.toArray.sum === (1 to 5000).sum.toDouble)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) === 2.0)
  }
}
