package layerbench

/** Order statistics used by every workload's report. */
object Stats {

  /** Median of a non-empty sample (mean of the two middle values). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The percentile ladder a tail is reported on. */
  val Ladder: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the sample at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(rank(s.size, p) - 1)
  }

  /** 1-based nearest rank of percentile `p` in a sample of `n`. */
  def rank(n: Int, p: Double): Int =
    math.max(1, math.min(n, math.ceil(p / 100.0 * n - 1e-9).toInt))

  /** A tail figure: the value, the percentile it sits at and the sample
    * count it was taken from. */
  final case class Tail(value: Double, percentile: Double, samples: Int)

  /** The highest ladder percentile with at least `beyond` samples strictly
    * above its rank. With fewer than `2 * beyond` samples no ladder step
    * qualifies and the tail falls back to the median, flagged by its
    * percentile (50) and sample count; a tail never reads below the
    * median. */
  def tail(xs: Seq[Double], beyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of an empty sample")
    val n = xs.size
    val p = Ladder.filter(p => n - rank(n, p) >= beyond).lastOption.getOrElse(50.0)
    Tail(math.max(percentile(xs, p), median(xs)), p, n)
  }

  /** Length of the union of closed intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    val sorted = iv.filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    sorted.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Part of `[a, b]` covered by the union of `iv`. */
  def coveredWithin(a: Long, b: Long, iv: Seq[(Long, Long)]): Long =
    unionLength(iv.map { case (x, y) => (math.max(a, x), math.min(b, y)) })
}
