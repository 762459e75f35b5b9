package perfbench

/** Order statistics and interval arithmetic shared by the workloads and
  * the trace. Pure functions, unit-tested in StatsSpec.
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** The later half of a series of repeated passes, `ceil(n / 2)` of
    * them: the steady state. The earlier passes still pay for JIT
    * compilation (relational: about 8.3 s for the first warm pass against
    * 6.7 s for the third, on 4 cores).
    */
  def steady[T](xs: Seq[T]): Seq[T] = xs.drop(xs.size / 2)

  /** Nearest-rank percentile: the smallest sample with at least `q` of
    * the samples at or below it.
    */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(q * s.size - 1e-9).toInt.max(1).min(s.size)
    s(rank - 1)
  }

  /** The highest percentile, at most `cap`, that still leaves `beyond`
    * samples above it: a tail read off fewer samples than that is one or
    * two outliers, not a tail. p90 therefore needs 100 samples; at 60
    * samples the highest honest tail is p83.3. None below `beyond` + 1.
    */
  def tailLevel(n: Int, cap: Double = 0.90, beyond: Int = 10): Option[Double] =
    if (n <= beyond) None else Some(math.min(cap, 1.0 - beyond.toDouble / n))

  /** `percentile` at `tailLevel`, with the level it was read at. */
  def tail(xs: Seq[Double], cap: Double = 0.90, beyond: Int = 10): Option[(Double, Double)] =
    tailLevel(xs.size, cap, beyond).map(level => level -> percentile(xs, level))

  /** Total length covered by a set of possibly overlapping intervals. */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    var covered = 0.0
    var curStart = Double.NaN
    var curEnd = Double.NaN
    for ((s, e) <- intervals.filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (curEnd.isNaN || s > curEnd) {
        if (!curEnd.isNaN) covered += curEnd - curStart
        curStart = s
        curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (!curEnd.isNaN) covered += curEnd - curStart
    covered
  }

  /** Self time of a span: its length minus what its children cover,
    * children clipped to the span and overlapping children counted once.
    */
  def selfTime(span: (Double, Double), children: Seq[(Double, Double)]): Double = {
    val (s, e) = span
    val clipped = children.map { case (cs, ce) => (math.max(cs, s), math.min(ce, e)) }
    math.max(0.0, (e - s) - unionLength(clipped))
  }
}
