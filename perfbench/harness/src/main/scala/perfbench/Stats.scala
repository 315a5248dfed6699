package perfbench

/** Percentile helpers shared by every layer's numbers. */
object Stats {

  /** Nearest-rank percentile of `xs` (q in 0..100); NaN when empty. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q / 100.0 * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** The highest of p99 / p90 / p75 that has at least ten samples
    * beyond it for a sample of `n` (a tail percentile resting on fewer
    * samples is one stray value). */
  def tailPct(n: Long): Double =
    Seq(99.0, 90.0, 75.0).find(q => n * (100.0 - q) / 100.0 >= 10).getOrElse(50.0)
}

/** Fixed-width latency histogram: 100 µs buckets up to 180 s, recorded
  * concurrently as documents arrive, so the fake keeps counts, not
  * documents. Percentiles are exact to the bucket width. */
final class LatencyHistogram {
  private val widthUs = 100L
  private val buckets = new java.util.concurrent.atomic.AtomicIntegerArray(1800000)

  def record(latencyNs: Long): Unit = {
    val b = math.min(buckets.length - 1L, math.max(0L, latencyNs / 1000L / widthUs)).toInt
    buckets.incrementAndGet(b)
  }

  def count: Long = {
    var n = 0L
    var i = 0
    while (i < buckets.length) { n += buckets.get(i); i += 1 }
    n
  }

  /** Nearest-rank percentile in ms (bucket midpoint); NaN when empty. */
  def pctMs(q: Double): Double = {
    val n = count
    if (n == 0) return Double.NaN
    val rank = math.max(1L, math.ceil(q / 100.0 * n).toLong)
    var seen = 0L
    var i = 0
    while (i < buckets.length) {
      seen += buckets.get(i)
      if (seen >= rank) return (i * widthUs + widthUs / 2) / 1000.0
      i += 1
    }
    Double.NaN
  }
}
