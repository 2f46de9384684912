package tickbench

/** Measurement arithmetic shared by every workload. Kept free of Spark and
  * I/O so [[SelfTest]] can pin it down exactly.
  */
object Stats {
  /** Nearest-rank percentile `q` (0 < q <= 100) of ascending `sorted`. */
  def percentile(sorted: IndexedSeq[Double], q: Double): Double = {
    require(sorted.nonEmpty, "percentile of no samples")
    val rank = math.ceil(q / 100.0 * sorted.length).toInt
    sorted(math.min(math.max(rank, 1), sorted.length) - 1)
  }

  /** Samples strictly above the nearest-rank `q`-th percentile of `n`. */
  def samplesAbove(n: Int, q: Double): Int =
    n - math.min(math.max(math.ceil(q / 100.0 * n).toInt, 1), n)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2.0
  }

  /** The tail a run may honestly report: the highest whole percentile,
    * at most 99, that still has at least `minAbove` samples above it.
    * Returns (percentile, value, sample count); None when even the median
    * has fewer than `minAbove` samples above it.
    */
  def tail(xs: Seq[Double], minAbove: Int = 10): Option[(Int, Double, Int)] = {
    val s = xs.sorted.toIndexedSeq
    (99 to 50 by -1).find(q => samplesAbove(s.length, q) >= minAbove)
      .map(q => (q, percentile(s, q), s.length))
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), s"geomean needs positive samples: $xs")
    math.exp(xs.map(math.log).sum / xs.length)
  }

  /** Self time of a span: its length minus the part of it that its
    * children cover. Children may overlap each other and stick out of the
    * parent; only their union inside the parent is subtracted.
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children
      .map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    (end - start) - covered
  }
}

/** Attempted and failed operations of one run. A refused or errored
  * request and an answer that does not match the expectation are both
  * failures; `correct` holds only when nothing failed and the run
  * attempted something.
  */
final class Tally {
  private val attemptedN = new java.util.concurrent.atomic.AtomicLong
  private val failedN = new java.util.concurrent.atomic.AtomicLong
  private val firstErrors = new java.util.concurrent.ConcurrentLinkedQueue[String]

  def ok(): Unit = attemptedN.incrementAndGet()

  def fail(why: String): Unit = {
    attemptedN.incrementAndGet()
    failedN.incrementAndGet()
    if (firstErrors.size < 10) firstErrors.add(why.take(300))
  }

  /** One attempted operation whose outcome is `good`. */
  def check(good: Boolean, why: => String): Unit = if (good) ok() else fail(why)

  def attempted: Long = attemptedN.get
  def failed: Long = failedN.get
  def errors: Seq[String] = firstErrors.toArray(Array.empty[String]).toSeq
  def correct: Boolean = attempted > 0 && failed == 0
}
