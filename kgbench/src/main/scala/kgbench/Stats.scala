package kgbench

/** Summary statistics the benchmark reports. Pure functions, tested in
  * StatsSpec. */
object Stats {

  /** Linearly interpolated quantile, `q` in [0, 1] (the numpy default:
    * position q·(n-1) in the sorted sample). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    require(q >= 0 && q <= 1, s"quantile $q outside [0, 1]")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "mean of an empty sample")
    xs.sum / xs.size
  }

  /** Cost growth along a sequence of steps over accumulating state:
    * the mean of the last quarter over the mean of the second quarter
    * (the first quarter is left out of the base as warm-up, the same
    * late/early rule the engine's older one-off mains used). 1.0 means
    * flat; needs at least 4 steps. */
  def growth(xs: Seq[Double]): Double = {
    val q = xs.size / 4
    require(q >= 1, s"growth needs at least 4 steps, got ${xs.size}")
    mean(xs.takeRight(q)) / mean(xs.slice(q, 2 * q))
  }

  /** F1 of a produced set against a reference set (1.0 when both are
    * empty: nothing expected, nothing produced). */
  def f1[A](got: Set[A], want: Set[A]): Double =
    if (got.isEmpty && want.isEmpty) 1.0
    else 2.0 * (got & want).size / (got.size + want.size)
}
