package perfbench

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** linear interpolation between closest ranks; NaN when empty. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  /** Each kind's median latency, averaged over the kinds. A session
    * mixes op kinds whose latencies form separate clusters; the median of
    * the pooled samples would jump between two clusters from one seed to
    * the next, this does not. */
  def kindMedianMean(samples: Seq[(String, Double)]): Double = {
    val byKind = samples.groupMap(_._1)(_._2)
    byKind.valuesIterator.map(median).sum / byKind.size
  }

  /** The highest percentile with at least ten samples beyond it:
    * (value, percentile, samples). Below 21 samples that percentile
    * would not lie above the median, so the slowest sample is reported
    * as p100 instead. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    if (s.size < 21) (s.lastOption.getOrElse(Double.NaN), 100.0, s.size)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size, s.size)
  }

  def cpu(ops: Seq[(String, Cost)]): Seq[(String, Double)] = ops.map { case (k, c) => k -> c.cpuMs }
  def wall(ops: Seq[(String, Cost)]): Seq[(String, Double)] = ops.map { case (k, c) => k -> c.wallMs }

  /** The wall-clock figures a user waits for, printed as detail lines:
    * on a shared machine they move with its speed (README.md). `main`
    * are the workload's ops, `aux` its second kind of request, `all`
    * every timed request. */
  def wallClock(main: Seq[(String, Cost)], aux: Seq[(String, Cost)], all: Seq[(String, Cost)]): Seq[(String, String)] = {
    val (tailMs, tailP, n) = tail(wall(main).map(_._2))
    Seq("wall.op_p50_ms" -> f"${kindMedianMean(wall(main))}%.1f",
      "wall.op_tail_ms" -> f"$tailMs%.1f (p$tailP%.1f of $n)",
      "wall.aux_p50_ms" -> f"${kindMedianMean(wall(aux))}%.1f",
      "wall.ops_per_s" -> f"${all.size / (all.map(_._2.wallMs).sum / 1000)}%.3f")
  }

  /** Each kind's median wall-clock and CPU time, as detail lines. */
  def byKind(ops: Seq[(String, Cost)]): Seq[(String, String)] =
    ops.map(_._1).distinct.map { k =>
      val of = ops.filter(_._1 == k).map(_._2)
      s"p50_ms.$k" -> f"wall ${median(of.map(_.wallMs))}%.1f cpu ${median(of.map(_.cpuMs))}%.1f"
    }
}
