package perfbench

import scala.util.Random

/** Every input of a run, as a pure function of the seed: keys, values,
  * request streams and patch deltas. The program only ever sees what
  * these functions return. */
object Gen {

  /** splitmix64's finalizer after a golden-ratio step: a bijection on
    * longs, so distinct inputs give distinct outputs. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  val KeyLen = 8

  /** Key `i` of the seed's key space. Indexes `[0, n)` are written to the
    * domain; indexes at or above `n` are never written (absent keys). */
  def key(seed: Long, i: Long): Array[Byte] = {
    val z = mix(i ^ mix(seed))
    val b = new Array[Byte](KeyLen)
    var j = 0
    while (j < KeyLen) { b(j) = (z >>> (56 - 8 * j)).toByte; j += 1 }
    b
  }

  /** Value of key `i` as written by `version`: a readable head
    * (`v<version>:<i>:`) then seeded filler, `len` bytes in all. */
  def value(seed: Long, i: Long, version: Int, len: Int): Array[Byte] = {
    val b = new Array[Byte](len)
    fill(seed, i, version, len, b, compare = false)
    b
  }

  /** Does `got` equal [[value]]`(seed, i, version, len)`? Compares as it
    * generates, without building the expected value. */
  def isValue(seed: Long, i: Long, version: Int, len: Int, got: Array[Byte]): Boolean =
    got != null && got.length == len && fill(seed, i, version, len, got, compare = true)

  private def fill(seed: Long, i: Long, version: Int, len: Int, b: Array[Byte], compare: Boolean): Boolean = {
    val head = s"v$version:$i:".getBytes("UTF-8")
    val h = math.min(head.length, len)
    val base = mix(seed ^ mix(i * 31L + version))
    var z = 0L
    var j = 0
    while (j < len) {
      val x =
        if (j < h) head(j)
        else {
          val k = j - h
          if (k % 8 == 0) z = mix(base + k / 8)
          ('a' + ((z >>> (8 * (k % 8))) & 15)).toByte
        }
      if (!compare) b(j) = x
      else if (b(j) != x) return false
      j += 1
    }
    true
  }

  /** Independent, reproducible random stream `stream` of the seed. */
  def rnd(seed: Long, stream: Long): Random = new Random(mix(seed * 1000003L + stream))

  /** Zipf(s) over ranks `[0, n)`: rank 0 is the hottest. The CDF is
    * built once; draws are a binary search. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val c = new Array[Double](n)
      var acc = 0.0
      var k = 0
      while (k < n) { acc += 1.0 / math.pow(k + 1.0, s); c(k) = acc; k += 1 }
      k = 0
      while (k < n) { c(k) /= acc; k += 1 }
      c
    }
    def draw(r: Random): Int = {
      val u = r.nextDouble()
      var lo = 0
      var hi = n - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  /** Key index of the next point request: an absent key with probability
    * `absentFrac`, otherwise a present key drawn by `present`. */
  def pointIndex(r: Random, n: Int, absentFrac: Double, present: Random => Int): Long =
    if (r.nextDouble() < absentFrac) n.toLong + r.nextInt(n) else present(r).toLong

  /** A uniform batch of `size` key indexes, `absentFrac` of them absent. */
  def batch(r: Random, n: Int, size: Int, absentFrac: Double): Array[Long] =
    Array.fill(size)(pointIndex(r, n, absentFrac, _.nextInt(n)))

  /** One patch: keys to upsert and keys to delete, disjoint, all present
    * before the patch. */
  final case class Delta(upserts: Array[Int], deletes: Array[Int])

  def delta(seed: Long, cycle: Int, state: State, nUpserts: Int, nDeletes: Int): Delta = {
    val r = rnd(seed, 1000L + cycle)
    val picked = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (picked.size < nUpserts + nDeletes) {
      val i = r.nextInt(state.n)
      if (state.present(i)) picked += i
    }
    val all = picked.toArray
    Delta(all.take(nUpserts), all.drop(nUpserts))
  }

  /** Which version last wrote each key (0 = deleted). Versions are
    * copy-on-write per patch, so a reader can hold the state it saw. */
  final class State private (val n: Int, val valueLen: Int, private val versionOf: Array[Int]) {
    def present(i: Int): Boolean = versionOf(i) > 0
    /** Expected answer for key index `i` (absent keys have `i >= n`). */
    def expected(seed: Long, i: Long): Option[Array[Byte]] =
      if (i >= n || versionOf(i.toInt) == 0) None
      else Some(value(seed, i, versionOf(i.toInt), valueLen))
    /** Is `got` the answer for key index `i` in this state? */
    def answers(seed: Long, i: Long, got: Option[Array[Byte]]): Boolean =
      if (i >= n || versionOf(i.toInt) == 0) got.isEmpty
      else got.exists(isValue(seed, i, versionOf(i.toInt), valueLen, _))
    def applied(d: Delta, version: Int): State = {
      val v = versionOf.clone()
      d.upserts.foreach(i => v(i) = version)
      d.deletes.foreach(i => v(i) = 0)
      new State(n, valueLen, v)
    }
  }

  object State {
    def initial(n: Int, valueLen: Int): State = new State(n, valueLen, Array.fill(n)(1))
  }
}
