package graft.obs

/** The summary statistics the bench, stream and probe harnesses report. */
object Stats {

  /** Median; 0 with no observations, the artifacts' "nothing measured". */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) 0.0
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the ⌈p·n⌉-th smallest value (the smallest
    * for p·n ≤ 1); 0 with no observations.
    */
  def percentile(xs: Seq[Long], p: Double): Long = {
    val s = xs.sorted
    if (s.isEmpty) 0L
    else s(math.max(0, math.min(s.size - 1, math.ceil(p * s.size).toInt - 1)))
  }

  /** max/min, 1.0 for a perfectly stable rate; NaN with no observations
    * or a non-positive minimum.
    */
  def spread(xs: Seq[Double]): Double =
    if (xs.isEmpty || xs.min <= 0) Double.NaN else xs.max / xs.min

  /** [[spread]] with one observation dropped from each end once there
    * are 5 or more (3 survive); below that it is the raw spread. More
    * reps widen max/min by construction, so a noise gate judges the
    * stable core: one cold-cache or stalled rep must not flag a stream.
    */
  def trimmedSpread(xs: Seq[Double]): Double =
    if (xs.size >= 5) spread(xs.sorted.slice(1, xs.size - 1)) else spread(xs)

  /** (max − min) / median; 0 with no observations or a non-positive
    * median.
    */
  def relativeRange(xs: Seq[Double]): Double = {
    val m = median(xs)
    if (xs.isEmpty || m <= 0) 0.0 else (xs.max - xs.min) / m
  }
}
