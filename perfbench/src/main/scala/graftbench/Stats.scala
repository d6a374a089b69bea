package graftbench

/** Order statistics used by every workload. */
object Stats {

  /** Nearest-rank index of percentile `p` (0..100) in a sorted array of
    * `n` values. */
  private def rankIndex(n: Int, p: Double): Int =
    math.max(0, math.min(n - 1, math.ceil(p / 100.0 * n).toInt - 1))

  /** A tail percentile under the reporting rule: report percentile `p`
    * only when at least `minBeyond` samples lie beyond it; otherwise report
    * the highest percentile that still has `minBeyond` samples beyond it.
    * With fewer than `minBeyond + 1` samples nothing qualifies and the
    * minimum is reported. Returns (value, percentile actually reported). */
  def tail(xs: Seq[Double], p: Double, minBeyond: Int = 10): (Double, Double) = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted.toArray
    val n = s.length
    val idx = math.max(0, math.min(rankIndex(n, p), n - 1 - minBeyond))
    (s(idx), 100.0 * (idx + 1) / n)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Latency summary of a run that mixes operation kinds of very
    * different cost, in equal numbers, a few of each: the geometric means
    * over kinds of each kind's median and of each kind's tail. A kind's
    * tail is [[tail]] at p90 when it has more than `minBeyond` samples,
    * and its largest sample otherwise. A pooled median would sit in the
    * gap between two kinds and jump from one to the other as the number
    * of samples per kind changes, and a single kind's value moves with
    * the order the kinds ran in; the mean over kinds moves only when
    * kinds' latencies move. With one kind this is that kind's median and
    * tail. */
  def byKind(xs: Seq[(String, Double)], minBeyond: Int = 10): (Double, Double) =
    if (xs.isEmpty) (0.0, 0.0)
    else {
      val kinds = xs.groupBy(_._1).values.map(_.map(_._2)).toSeq
      def gm(vs: Seq[Double]) =
        if (vs.size == 1) vs.head else math.exp(vs.map(math.log).sum / vs.size)
      (gm(kinds.map(median)),
        gm(kinds.map(k => if (k.size > minBeyond) tail(k, 90, minBeyond)._1
                          else k.max)))
    }

  def p50(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
  def p90(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else tail(xs, 90)._1
  def maxOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.max
}
