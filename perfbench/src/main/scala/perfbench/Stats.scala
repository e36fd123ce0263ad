package perfbench

/** Percentiles over recorded samples (nearest-rank), with the sample
  * counts that make them trustworthy. */
object Stats {

  /** Nearest-rank `q`-quantile of ascending `sorted`: the smallest sample
    * with at least `q` of all samples at or below it. */
  def quantile(sorted: Array[Double], q: Double): Double = {
    require(sorted.nonEmpty, "quantile of no samples")
    require(q > 0.0 && q <= 1.0, s"quantile $q outside (0, 1]")
    val rank = math.ceil(q * sorted.length - 1e-9).toInt
    sorted(math.max(rank, 1) - 1)
  }

  /** Samples strictly above the nearest-rank `q`-quantile's position. */
  def beyond(n: Int, q: Double): Int = n - math.max(math.ceil(q * n - 1e-9).toInt, 1)

  def median(xs: Seq[Double]): Double = quantile(xs.sorted.toArray, 0.5)

  /** A latency summary: median, p90 and p99, the sample count, and
    * whether the p99 has at least ten samples beyond it (otherwise it is
    * a single reading, not a percentile). */
  final case class Summary(n: Int, p50: Double, p90: Double, p99: Double, p99Backed: Boolean)

  def summarize(samples: Array[Double]): Summary = {
    val s = samples.clone()
    java.util.Arrays.sort(s)
    Summary(s.length, quantile(s, 0.5), quantile(s, 0.9), quantile(s, 0.99),
      beyond(s.length, 0.99) >= 10)
  }

  /** Median over `slices` consecutive equal slices of `samples` (in the
    * order they were due) of each slice's `q`-quantile. */
  def sliced(samples: Array[Double], slices: Int, q: Double): Double = {
    val n = samples.length / slices
    require(n > 0, s"${samples.length} samples for $slices slices")
    median((0 until slices).map { k =>
      val part = java.util.Arrays.copyOfRange(samples, k * n, (k + 1) * n)
      java.util.Arrays.sort(part)
      quantile(part, q)
    })
  }

  /** Growable array of doubles, one per recording thread. */
  final class Samples {
    private var a = new Array[Double](1024)
    private var n = 0
    def add(x: Double): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
      a(n) = x
      n += 1
    }
    def size: Int = n
    def toArray: Array[Double] = java.util.Arrays.copyOf(a, n)
  }
}
