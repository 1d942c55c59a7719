package perfbench

/** Latency summaries used by every workload. */
object Stats {

  /** Samples that must lie above a reported tail value. */
  val TailBeyond = 10

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    require(s.nonEmpty, "no samples")
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** A tail latency: the value at `percentile`, over `samples` samples. */
  final case class Tail(percentile: Double, value: Double, samples: Int)

  /** The highest percentile that still has at least `beyond` samples
    * strictly after it in rank order: rank n - beyond of n samples, that is
    * percentile 100 * (n - beyond) / n. None when there are too few
    * samples for any such percentile. */
  def tail(values: Iterable[Double], beyond: Int = TailBeyond): Option[Tail] = {
    val s = values.toArray.sorted
    val n = s.length
    if (n <= beyond) None
    else Some(Tail(100.0 * (n - beyond) / n, s(n - beyond - 1), n))
  }
}
