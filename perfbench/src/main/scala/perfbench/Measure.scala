package perfbench

import scala.collection.mutable

/** Order statistics used by every metric. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail: the highest percentile that still has at least `beyond`
    * samples above it, i.e. the sample of rank n - beyond (1-based) in
    * ascending order. Returns (value, percentile). When that percentile
    * would not lie above the median (n <= 2 * beyond) the maximum is
    * reported instead, as p100. */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n <= 2 * beyond) (s.last, 100.0)
    else (s(n - beyond - 1), 100.0 * (n - beyond) / n)
  }

  /** Length of the union of [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    for ((s, e) <- intervals.filter(i => i._2 > i._1).sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Failure accounting for timed operations.
  *
  * Every operation goes through [[op]]. One that throws, or whose result
  * fails its check, counts as failed and leaves no timing sample; nothing
  * is swallowed silently — the first failures are kept with their
  * messages and printed. */
final class Ledger {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer[String]()
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()

  def seconds(kind: String): Seq[Double] = samples.getOrElse(kind, Nil).toSeq

  /** Run `body`, check its result with `check` (None = pass, Some(why) =
    * fail) outside the timed region, and record the wall seconds under
    * `kind` only when both succeed. */
  def op[T](kind: String, check: T => Option[String] = (_: T) => None)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    val result = try Right(body) catch { case e: Throwable => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    val verdict = result match {
      case Left(e) => Some(s"threw ${e.getClass.getName}: ${e.getMessage}")
      case Right(v) =>
        try check(v) catch { case e: Throwable => Some(s"check threw ${e.getClass.getName}: ${e.getMessage}") }
    }
    verdict match {
      case None =>
        samples.getOrElseUpdate(kind, mutable.ArrayBuffer()) += secs
        result.toOption
      case Some(why) =>
        failed += 1
        if (failures.size < 20) failures += s"$kind: ${why.take(400)}"
        None
    }
  }

  /** Record a check that is not itself timed (e.g. the final store check). */
  def check(kind: String)(verdict: => Option[String]): Boolean = {
    attempted += 1
    val v = try verdict catch { case e: Throwable => Some(s"threw ${e.getClass.getName}: ${e.getMessage}") }
    v.foreach { why =>
      failed += 1
      if (failures.size < 20) failures += s"$kind: ${why.take(400)}"
    }
    v.isEmpty
  }
}
