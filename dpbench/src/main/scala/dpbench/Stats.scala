package dpbench

/** Order statistics and the released-histogram digest. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least p·n samples
    * at or below it. */
  def nearestRank(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.length).toInt - 1))
  }

  /** Samples strictly beyond the nearest-rank `p` percentile of n samples. */
  def beyond(n: Int, p: Double): Int = n - math.max(1, math.ceil(p * n).toInt)

  /** Highest whole percentile (as a fraction) that leaves at least
    * `minBeyond` samples beyond it, if any. */
  def highestSupported(n: Int, minBeyond: Int = 10): Option[Double] =
    (99 to 1 by -1).map(_ / 100.0).find(p => beyond(n, p) >= minBeyond)

  /** Order-independent digest of released rows: SHA-256 over the sorted
    * rows, one tab-separated row per line, first 16 hex digits. */
  def digest(rows: Iterable[Seq[Any]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.mkString("\t")).toArray.sorted.foreach { line =>
      md.update(line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update('\n'.toByte)
    }
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}
