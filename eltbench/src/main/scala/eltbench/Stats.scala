package eltbench

/** Latency summaries over one sample set.
  *
  * A failed operation enters the set as +Infinity: it is never fast, and it
  * counts as missing any latency limit. The median and the tail are read
  * from the same sorted samples, so the tail is never below the median.
  */
object Stats {

  /** A percentile read from `n` samples. */
  final case class Pct(percentile: Double, value: Double, n: Int)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def p50(xs: Seq[Double]): Pct = Pct(50.0, median(xs), xs.length)

  /** The highest percentile that has at least `beyond` samples above it
    * (nearest rank n - beyond). With fewer than about 2 x `beyond` samples
    * that rank falls at or below the middle, and the tail is the median. */
  def tail(xs: Seq[Double], beyond: Int = 10): Pct = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    val rank = n - beyond // 1-based
    if (rank > n / 2 && rank >= 1) Pct(100.0 * rank / n, s(rank - 1), n)
    else p50(xs)
  }

  /** Latency samples of operations that may have failed (None = failed). */
  def samples(ops: Seq[Option[Double]]): Seq[Double] =
    ops.map(_.getOrElse(Double.PositiveInfinity))

  /** Seconds covered by the union of (start, end) epoch-ms intervals. */
  def unionSeconds(spans: Seq[(Long, Long)]): Double = {
    var covered, curS, curE = 0L
    var open = false
    spans.sortBy(_._1).foreach { case (s, e) =>
      if (open && s <= curE) curE = math.max(curE, e)
      else {
        if (open) covered += curE - curS
        curS = s; curE = e; open = true
      }
    }
    if (open) covered += curE - curS
    covered / 1e3
  }
}
