package perfbench

/** Pure arithmetic behind the harness's metrics, kept free of Spark so the
  * self-tests can pin each rule on hand-made inputs. Times are in
  * milliseconds unless a name says otherwise. */
object Stats {

  /** Median (mean of the two middle values for an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank index: the smallest sample with at least `p`% of the
    * samples at or below it. */
  private def rankIndex(n: Int, p: Double): Int =
    math.min(n - 1, math.max(0, math.ceil(p / 100.0 * n).toInt - 1))

  /** Percentiles tried for the tail, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.5, 99.0, 98.0, 95.0, 90.0, 80.0, 75.0, 50.0)

  final case class Tail(percentile: Double, value: Double, beyond: Int)

  /** The highest ladder percentile that still has at least `minBeyond`
    * samples above its rank, so the tail is never read off a handful of
    * points. When even the median has fewer than `minBeyond` samples
    * beyond it, the median is the tail and `beyond` says how thin it is. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    def beyond(p: Double) = n - 1 - rankIndex(n, p)
    val p = TailLadder.find(beyond(_) >= minBeyond).getOrElse(50.0)
    Tail(p, s(rankIndex(n, p)), beyond(p))
  }

  /** Length of the union of half-open intervals `[start, end)`. */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    val sorted = intervals.filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curStart = Double.NaN
    var curEnd = Double.NaN
    sorted.foreach { case (a, b) =>
      if (curStart.isNaN || a > curEnd) {
        if (!curStart.isNaN) total += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (!curStart.isNaN) total += curEnd - curStart
    total
  }

  /** Driver gap of a window: its wall time minus the time covered by at
    * least one job (jobs clipped to the window first). */
  def driverGap(windowStart: Double, windowEnd: Double,
      jobs: Seq[(Double, Double)]): Double = {
    val clipped = jobs.map { case (a, b) =>
      (math.max(a, windowStart), math.min(b, windowEnd))
    }
    (windowEnd - windowStart) - unionLength(clipped)
  }

  /** A traced interval. Lower `level` means outer (operation = 0). */
  final case class Span(id: Int, level: Int, kind: String, name: String,
      start: Double, end: Double) {
    def duration: Double = end - start
  }

  /** Parent of each span: the innermost span of a lower level whose
    * interval contains it; -1 for a root. */
  def parents(spans: Seq[Span]): Map[Int, Int] = {
    spans.map { s =>
      val enclosing = spans.filter(p => p.level < s.level &&
        p.start <= s.start && s.end <= p.end)
      val parent =
        if (enclosing.isEmpty) -1
        else enclosing.maxBy(p => (p.level, p.start, -p.end)).id
      s.id -> parent
    }.toMap
  }

  /** Self time of each span: its duration minus the union of its direct
    * children's intervals. */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val parentOf = parents(spans)
    val children = spans.groupBy(s => parentOf(s.id))
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.duration - unionLength(kids))
    }.toMap
  }

  /** Share of shuffled records per pair the map side emitted: 1.0 when
    * nothing combines, far below 1.0 when map-side partial aggregation
    * folds repeated keys. */
  def combineRatio(exchangeRecords: Long, emittedPairs: Long): Double =
    if (emittedPairs == 0) 0.0 else exchangeRecords.toDouble / emittedPairs

  /** 64-bit mix of one (key, value) pair (SplitMix64 finaliser). Sums of
    * it over a relation are an order-free fingerprint that the checker
    * recomputes from its own reference. */
  def mix(k: Long, v: Long): Long = {
    var z = k * 0x9E3779B97F4A7C15L + v
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
