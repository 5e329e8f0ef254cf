package perfbench

/** The benchmark's own arithmetic: every figure it reports goes through
  * these functions, and StatsSpec pins them. */
object Stats {

  /** Median as Python's `statistics.median`: the mean of the two middle
    * values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** A nearest-rank percentile together with the sample count it rests on. */
  final case class Pct(value: Double, samples: Int)

  /** Nearest-rank percentile: the smallest value with at least `p` percent
    * of the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Pct = {
    require(xs.nonEmpty, "percentile of no values")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    Pct(s(math.max(rank, 1) - 1), s.length)
  }

  /** True when at least `tail` samples lie beyond percentile `p`, the rule
    * for reporting a percentile at all. */
  def supported(p: Double, samples: Int, tail: Int = 10): Boolean =
    samples * (100.0 - p) / 100.0 >= tail

  /** Task-time skew of one stage: slowest task over the median task. */
  def skew(taskTimes: Seq[Double]): Double = {
    val m = median(taskTimes)
    if (m <= 0) 0.0 else taskTimes.max / m
  }

  /** Share of the slots kept busy: summed task time over wall × cores. */
  def slotBusyFrac(taskTimeSum: Double, wall: Double, cores: Int): Double =
    if (wall <= 0 || cores <= 0) 0.0 else taskTimeSum / (wall * cores)

  /** Role of one Spark stage inside an `ExtractJob.run` call, read from
    * what the stage moved. Curation stages are attributed to their
    * CurateJob stage by marker times instead, so they get `Curate`. */
  sealed trait Role { def name: String }
  case object Scan extends Role { val name = "scan" }
  case object Extract extends Role { val name = "extract" }
  case object Write extends Role { val name = "write" }
  case object Other extends Role { val name = "other" }
  case object Curate extends Role { val name = "curate" }

  def role(inputBytes: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
           outputBytes: Long, extractJob: Boolean): Role =
    if (!extractJob) Curate
    else if (inputBytes > 0 && shuffleWriteBytes > 0) Scan
    else if (shuffleReadBytes > 0 && outputBytes > 0) Extract
    else if (outputBytes > 0) Write
    else Other
}
