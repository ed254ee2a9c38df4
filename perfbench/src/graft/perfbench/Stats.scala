package graft.perfbench

/** Percentiles that refuse to report a tail the sample cannot support.
  *
  * A percentile is reported only when at least [[MinBeyond]] samples lie
  * strictly above its rank: with 40 samples the p95 sits on the second
  * largest value and says nothing about a tail, so it is refused. */
object Stats {
  val MinBeyond = 10

  final class Refused(msg: String) extends RuntimeException(msg)

  private def rank(n: Int, p: Double): Int = math.ceil(p * n).toInt.max(1)

  /** Nearest-rank tail percentile of `xs` at `p` in [0.5, 1]. */
  def tail(xs: Seq[Double], p: Double): Double = {
    require(p >= 0.5 && p <= 1, s"tail percentile $p out of [0.5, 1]")
    val n = xs.size
    val beyond = n - rank(n, p)
    if (n == 0 || beyond < MinBeyond)
      throw new Refused(f"p${p * 100}%.0f needs $MinBeyond samples beyond it; " +
        s"$n samples leave $beyond")
    xs.sorted.apply(rank(n, p) - 1)
  }

  /** The tail as text: its value, or why it is refused. */
  def tailText(xs: Seq[Double], p: Double): String =
    try f"${tail(xs, p)}%.1f" catch { case _: Refused => s"refused (n=${xs.size})" }

  /** The middle value, or the mean of the two middle values. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
