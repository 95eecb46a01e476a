package perfbench

/** Order statistics and host counters used by every workload. */
object Stats {
  /** Linear-interpolated quantile (the `statistics.quantiles`
    * "inclusive" method), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Tail quantile used for every latency metric. */
  val TailQ = 0.9

  /** Aggregate CPU counters from /proc/stat ("cpu " line). */
  def cpuTicks(): Array[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).get.trim.split("\\s+").drop(1).map(_.toLong)
      finally src.close()
    } catch { case _: Throwable => Array.empty }

  /** Share of CPU time stolen by the hypervisor between two samples, in %. */
  def stealPct(before: Array[Long], after: Array[Long]): Double =
    if (before.length < 8 || after.length < 8) 0.0
    else {
      val d = after.zip(before).map { case (a, b) => a - b }
      val total = d.sum.toDouble
      if (total <= 0) 0.0 else 100.0 * d(7) / total
    }

  /** Peak resident set size of this process (VmHWM), in MiB. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:")).map { l =>
        l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(0.0)
      finally src.close()
    } catch { case _: Throwable => 0.0 }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}
