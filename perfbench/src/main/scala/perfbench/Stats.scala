package perfbench

/** The benchmark's own arithmetic, free of Spark so it can be unit
  * tested: percentiles, interval unions and span attribution. */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least `p`
    * percent of all samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p out of (0, 100]")
    val sorted = xs.sorted
    sorted(rank(sorted.length, p) - 1)
  }

  /** 1-based nearest rank of the `p`-th percentile among `n` samples. */
  def rank(n: Int, p: Double): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** Samples strictly beyond the `p`-th percentile's rank. */
  def samplesBeyond(n: Int, p: Double): Int = n - rank(n, p)

  /** Fewest samples that leave at least `beyond` samples past the
    * `p`-th percentile (50 for p80 with ten beyond, 200 for p95). */
  def minSamples(p: Double, beyond: Int): Int =
    Iterator.from(1).find(n => samplesBeyond(n, p) >= beyond).get

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2.0
  }

  /** Sum of `(kind, x)` samples with every sample replaced by the median
    * of its kind: a total that one outlier cannot move. */
  def typicalTotal(samples: Seq[(String, Double)]): Double =
    samples.groupBy(_._1).values.map(xs => xs.length * median(xs.map(_._2))).sum

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Length of the union of closed intervals `[a, b]`, clipped to
    * `[lo, hi]`. Overlapping and nested intervals count once. */
  def coveredWithin(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.iterator
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .toSeq.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) covered += curB - curA
    covered
  }

  /** Span wall not covered by any job interval. */
  def outsideJobs(jobs: Seq[(Long, Long)], start: Long, end: Long): Long =
    (end - start) - coveredWithin(jobs, start, end)

  /** A span as attribution sees it: `[start, end)` on one clock, and
    * its nesting depth (0 = outermost). */
  final case class Interval(id: Int, start: Long, end: Long, depth: Int)

  /** The innermost span whose half-open interval `[start, end)`
    * contains `t`: with back-to-back spans an instant on the shared
    * boundary belongs to the span that starts there. Ties at equal
    * depth go to the later-starting span. */
  def attribute(spans: Seq[Interval], t: Long): Option[Int] = {
    val hits = spans.filter(s => s.start <= t && t < s.end)
    if (hits.isEmpty) None
    else Some(hits.maxBy(s => (s.depth, s.start)).id)
  }
}
