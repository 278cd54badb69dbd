package perfbench

/** A generator's random source. The seed is first scrambled, because
  * `java.util.Random` gives nearly the same first numbers for nearby small
  * seeds. */
object Seeded {
  def apply(seed: Long): scala.util.Random =
    new scala.util.Random(new java.util.SplittableRandom(seed).nextLong())
}

/** Order statistics for the benchmark's reports. */
object Stats {
  /** Median (mean of the middle pair for an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** A tail latency: the value at percentile `pct`, which is the highest
    * whole percentile that still has at least `beyond` samples above it. */
  final case class Tail(pct: Int, value: Double, beyond: Int, n: Int)

  /** The highest whole percentile `p` (50 <= p <= 99) that leaves at least
    * `minBeyond` samples strictly beyond its rank, by the nearest-rank
    * method. A sample set too small for p50 to have `minBeyond` samples
    * beyond it reports p50 with however many there are. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    def rank(p: Int) = math.max(1, math.ceil(p / 100.0 * n).toInt) // 1-based
    val p = (99 to 50 by -1).find(p => n - rank(p) >= minBeyond).getOrElse(50)
    Tail(p, s(rank(p) - 1), n - rank(p), n)
  }
}
