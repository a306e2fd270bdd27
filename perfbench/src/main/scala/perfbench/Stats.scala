package perfbench

/** Order statistics and the result line. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, over
    * `sorted` ascending values: the value at 1-based rank n − 10, returned
    * with that rank. When that rank is not above the median (n ≤ 21),
    * the maximum stands in. */
  def tail(sorted: Seq[Double]): (Int, Double) = {
    val n = sorted.size
    val rank = if (n - 10 > n / 2 + 1) n - 10 else n
    if (n == 0) (0, Double.NaN) else (rank, sorted(rank - 1))
  }

  /** Tracing overhead from a run that alternates traced and untraced
    * operations: per operation kind, median traced latency minus median
    * untraced latency, averaged over the kinds seen both ways. */
  def traceOverheadMs(lat: Seq[(String, Double, Boolean)]): Double = {
    val diffs = lat.groupBy(_._1).values.flatMap { ls =>
      val (t, u) = ls.partition(_._3)
      if (t.isEmpty || u.isEmpty) None
      else Some(median(t.map(_._2)) - median(u.map(_._2)))
    }
    if (diffs.isEmpty) 0.0 else diffs.sum / diffs.size
  }

  /** A JSON number with every digit; non-finite values become null. */
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else x.toString

  def metricsJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (k, v, u) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
      .mkString("{", ",", "}")

  def resultJson(correct: Boolean, attempted: Int, failed: Int,
      ms: Seq[(String, Double, String)]): String =
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":${metricsJson(ms)}}"""
}
