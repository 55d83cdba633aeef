package graftbench

/** Order statistics for reported timings. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The tail: the highest percentile that still has at least ten samples
    * above it, never below the median. Returns (value, percentile, n).
    */
  final case class Tail(value: Double, percentile: Double, n: Int)

  def tail(xs: Seq[Double]): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    val i = n - 11 // s(i) has n - 1 - i = 10 samples above it
    if (i >= (n - 1) / 2) Tail(s(i), 100.0 * (i + 1) / n, n)
    else Tail(median(s), 50.0, n)
  }
}
