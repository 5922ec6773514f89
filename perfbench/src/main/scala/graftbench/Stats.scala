package graftbench

/** Summary statistics for timing samples and layer reconciliation. */
object Stats {

  /** Linear-interpolated percentile (p in [0, 100]) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = (s.length - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Percentiles a tail may be read at, highest first. */
  val TailPercentiles: Seq[Double] = Seq(99.9, 99, 95, 90, 75)

  /** The highest percentile with at least `minBeyond` samples strictly
   *  above its value, as (percentile, value); None when the sample is too
   *  small for any of [[TailPercentiles]]. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[(Double, Double)] =
    TailPercentiles.iterator.map(p => (p, percentile(xs, p)))
      .find { case (_, v) => xs.count(_ > v) >= minBeyond }

  /** Share of an op's wall time that no layer span covers. Layer spans are
   *  sequential calls inside the op, so their sum cannot exceed the op
   *  wall; the remainder is benchmark glue between the calls. */
  def unattributed(layerWalls: Iterable[Double], opWall: Double): Double =
    if (opWall <= 0) 0.0 else 1.0 - layerWalls.sum / opWall
}
