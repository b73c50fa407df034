package graftbench

object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail timing: the `percentile` whose value has `beyond` samples
    * above it, out of `n`.
    */
  final case class Tail(percentile: Double, value: Double, beyond: Int, n: Int)

  /** The highest nearest-rank percentile with at least `minBeyond` samples
    * beyond it; None when there are too few samples for any.
    */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[Tail] = {
    val s = xs.sorted
    val n = s.length
    val i = n - 1 - minBeyond // 0-based rank of the highest qualifying sample
    if (i < 0) None
    else Some(Tail(100.0 * (i + 1) / n, s(i), n - 1 - i, n))
  }

  /** Order-insensitive digest of (query_id, rank, feature_id) rows: the sum
    * of a 64-bit mix of each row, so any permutation of one answer set
    * gives one value.
    */
  def digest(rows: Iterable[(Long, Int, Long)]): String = {
    var acc = 0L
    rows.foreach { case (q, r, f) =>
      acc += Rng.mix(Rng.mix(Rng.mix(q) ^ r.toLong) ^ f)
    }
    f"${acc}%016x"
  }
}
