package perfbench

import org.apache.spark.sql.Row

/** The benchmark's own arithmetic: order statistics, the derived ratios and
  * the result checksums. Pure functions, pinned by StatsSpec.
  */
object Stats {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest value with at least p% of the
    * values at or below it.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no values")
    require(p > 0 && p <= 100, s"percentile $p out of (0, 100]")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100 * s.length).toInt - 1))
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive values")
    math.exp(xs.map(math.log).sum / xs.length)
  }

  /** Task-time skew of a stage: slowest task over the median task. */
  def skew(durations: Seq[Double]): Double =
    if (durations.isEmpty) 0.0
    else {
      val p50 = percentile(durations, 50)
      if (p50 > 0) durations.max / p50 else 0.0
    }

  /** Self time of each rung of a cumulative ladder: the first rung's own
    * time, then the difference between consecutive rungs.
    */
  def selfTimes(cumulative: Seq[Double]): Seq[Double] =
    cumulative.headOption.toSeq ++
      cumulative.sliding(2).collect { case Seq(a, b) => b - a }

  /** Scaling efficiency of a `ratio`-times-wider run against a narrow one:
    * 1.0 when throughput grows by the full core ratio.
    */
  def scalingEff(wideRate: Double, narrowRate: Double, ratio: Int): Double =
    if (narrowRate <= 0) 0.0 else wideRate / (ratio * narrowRate)

  /** Useful outcomes per attempt; 0 when nothing was attempted. */
  def usefulRatio(useful: Long, attempted: Long): Double =
    if (attempted <= 0) 0.0 else useful.toDouble / attempted
}

/** Query result checksums: rows combine by wrapping sum, so the total does
  * not depend on the order rows come back in.
  */
object Checksum {

  private val FnvOffset = 0xcbf29ce484222325L
  private val FnvPrime = 0x100000001b3L

  def fnv64(s: String): Long = {
    var h = FnvOffset
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      h = (h ^ (c & 0xff)) * FnvPrime
      h = (h ^ (c >>> 8)) * FnvPrime
      i += 1
    }
    h
  }

  /** splitmix64 finalizer: spreads a hash before it is summed. */
  def mix(x: Long): Long = {
    var z = x
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** A canonical text form of a collected value. Map entries are sorted so
    * the form does not depend on hash-map iteration order.
    */
  def canonical(v: Any): String = v match {
    case null => "∅"
    case r: Row => r.toSeq.map(canonical).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + ":" + canonical(x) }
        .sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case s: scala.collection.Seq[_] => s.map(canonical).mkString("[", ",", "]")
    case d: java.math.BigDecimal => d.toPlainString
    case x => x.toString
  }

  def row(r: Row): Long = mix(fnv64(canonical(r)))

  /** Order-insensitive hash of a query result. */
  def rows(rs: Iterable[Row]): Long = rs.foldLeft(0L)(_ + row(_))
}
