package perfbench

import scala.collection.mutable

/** Latencies of one run, by operation kind. */
final class Latencies {
  private val byKind = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def add(kind: String, ms: Double): Unit =
    byKind.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
  def of(kinds: String => Boolean): Vector[Double] =
    byKind.collect { case (k, v) if kinds(k) => v }.flatten.toVector.sorted
  def clear(): Unit = byKind.clear()
}

object Stats {
  /** Nearest-rank percentile of sorted values. */
  def pct(sorted: Vector[Double], p: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else sorted(math.min(sorted.size - 1,
      math.max(0, math.ceil(p / 100.0 * sorted.size).toInt - 1)))

  def median(xs: Seq[Double]): Double = pct(xs.toVector.sorted, 50)

  /** The highest percentile at or above the median with at least ten
    * samples beyond it — the (n-10)-th smallest of n — as (percentile,
    * value, samples beyond). Below twenty samples none qualifies and the
    * maximum is reported as p100 with zero beyond. */
  def tail(sorted: Vector[Double]): (Double, Double, Int) = {
    val n = sorted.size
    if (n < 20) (100.0, if (n == 0) Double.NaN else sorted.last, 0)
    else (100.0 * (n - 10) / n, sorted(n - 11), 10)
  }
}
