package perfbench

import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.LongAdder
import java.util.concurrent.locks.LockSupport

/** Load generators. A request is timed up to its answer; checking the
  * answer afterwards is not timed. A request that answers wrongly or
  * throws counts as failed. */
object Load {

  /** A request's outcome: when its answer arrived, and whether it was
    * correct. */
  final case class Done(endNs: Long, ok: Boolean)

  /** Time `call`, then check its answer. */
  def timed[A](call: => A)(check: A => Boolean): Done = {
    val a = call
    val end = System.nanoTime()
    Done(end, check(a))
  }

  final case class Open(
      latMs: Array[Double], lateMs: Array[Double], attempted: Long, failed: Long) {
    def lat: Stats.Summary = Stats.summarize(latMs)
    def late: Stats.Summary = Stats.summarize(lateMs)
  }

  /** Open loop: `count` requests due at a fixed `rate` (fewer if `done`
    * turns true first), handed to `workers` threads when due, whether or
    * not earlier ones finished.
    * Latency runs from the due time, so a stall also charges the requests
    * queued behind it. `lateMs` is how late the generator itself handed
    * each request over. `next` draws the request in the generator's
    * thread, so the sequence depends on the seed only. A request still
    * unanswered when the phase's grace period ends counts as failed and
    * has no latency. */
  def open(rate: Double, count: Int, workers: Int, next: () => Long, done: () => Boolean = () => false)(
      op: Long => Done): Open = {
    val lat = Array.fill(count)(Double.NaN)
    val late = new Array[Double](count)
    val failed = new LongAdder
    val pool = Executors.newFixedThreadPool(workers)
    val interval = 1e9 / rate
    val t0 = System.nanoTime() + 2000000L
    var i = 0
    try {
      while (i < count && !done()) {
        val due = t0 + (i * interval).toLong
        var wait = due - System.nanoTime()
        while (wait > 0) { LockSupport.parkNanos(wait); wait = due - System.nanoTime() }
        late(i) = -wait / 1e6
        val idx = next()
        val slot = i
        pool.execute { () =>
          val d = try op(idx) catch { case _: Exception => Done(System.nanoTime(), ok = false) }
          lat(slot) = (d.endNs - due) / 1e6
          if (!d.ok) failed.increment()
        }
        i += 1
      }
    } finally {
      pool.shutdown()
      if (!pool.awaitTermination(60, TimeUnit.SECONDS)) pool.shutdownNow()
    }
    val answered = lat.take(i).filterNot(_.isNaN)
    Open(answered, late.take(i), i.toLong, failed.sum() + (i - answered.length))
  }

  /** `goodAtS`: when each good request answered, in seconds from the
    * start, so the rate can be taken per slice of the run. */
  final case class Closed(done: Long, good: Long, units: Long, failed: Long, seconds: Double,
      latMsByThread: IndexedSeq[Array[Double]], goodAtS: Array[Double]) {
    /** Median over `slices` equal slices of the run of each slice's rate
      * of good requests: a burst of stolen CPU spoils a few slices, not
      * the figure. */
    def slicedGoodPerS(slices: Int): Double = {
      val counts = new Array[Int](slices)
      goodAtS.foreach(t => counts(math.min(slices - 1, (t / seconds * slices).toInt)) += 1)
      Stats.median(counts.toSeq.map(_ * slices / seconds))
    }
  }

  /** Closed loop: each of `threads` clients sends its next request when
    * the previous one answered, for `seconds`. A request counts as good
    * when it answered correctly within `limitMs`. `op(thread)` returns
    * the units of work it completed (keys, for a batch) and its outcome. */
  def closed(threads: Int, seconds: Double, limitMs: Double)(
      op: Int => (Long, Done)): Closed = {
    val done = new LongAdder
    val good = new LongAdder
    val units = new LongAdder
    val failed = new LongAdder
    val samples = Array.fill(threads)(new Stats.Samples)
    val goodAt = Array.fill(threads)(new Stats.Samples)
    val start = System.nanoTime()
    val end = start + (seconds * 1e9).toLong
    val ts = (0 until threads).map { t =>
      val th = new Thread(() => {
        while (System.nanoTime() < end) {
          val t0 = System.nanoTime()
          val (u, d) = try op(t) catch { case _: Exception => (0L, Done(System.nanoTime(), ok = false)) }
          val ms = (d.endNs - t0) / 1e6
          samples(t).add(ms)
          done.increment()
          if (d.ok) {
            units.add(u)
            if (ms <= limitMs) { good.increment(); goodAt(t).add((d.endNs - start) / 1e9) }
          }
          else failed.increment()
        }
      }, s"closed-loop-$t")
      th.start()
      th
    }
    ts.foreach(_.join())
    Closed(done.sum(), good.sum(), units.sum(), failed.sum(),
      (System.nanoTime() - start) / 1e9, samples.toIndexedSeq.map(_.toArray),
      goodAt.flatMap(_.toArray))
  }
}
