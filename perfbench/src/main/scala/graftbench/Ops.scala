package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Operation accounting. An operation is one task run, replication pass or
  * pipeline query. It fails when its body throws or when its output check
  * reports a problem; a failed operation yields no timing sample, so a
  * throwing call can never read as a fast one.
  */
final class Ops {
  private var nAttempted = 0
  private val failureLog = ArrayBuffer.empty[String]

  def attempted: Int = synchronized(nAttempted)
  def failed: Int = synchronized(failureLog.size)
  def failures: Seq[String] = synchronized(failureLog.toList)

  /** Run `body`, timing it, then `check` its result (untimed). `check`
    * returns the problems it found. Returns the result and the body's
    * wall seconds only when the body returned and the check found none.
    */
  def run[T](name: String)(body: => T)(check: T => Seq[String]): Option[(T, Double)] = {
    synchronized(nAttempted += 1)
    val t0 = System.nanoTime()
    val outcome =
      try Right(body)
      catch { case NonFatal(e) => Left(s"threw ${Ops.brief(e)}") }
    val secs = (System.nanoTime() - t0) / 1e9
    val problems = outcome match {
      case Left(msg) => Seq(msg)
      case Right(v) =>
        try check(v)
        catch { case NonFatal(e) => Seq(s"check threw ${Ops.brief(e)}") }
    }
    if (problems.nonEmpty) {
      synchronized(failureLog += s"$name: ${problems.mkString("; ")}")
      None
    } else outcome.toOption.map(v => (v, secs))
  }

  /** Share of attempted operations that failed. */
  def failedShare: Double = if (attempted == 0) 0.0 else failed.toDouble / attempted
}

object Ops {
  /** An exception's class and first message line; Spark messages embed
    * whole stack traces. */
  def brief(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator
      .nextOption().getOrElse("").take(300)}"
}

object Stats {
  /** Linear-interpolation quantile, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest of p90/p99/p999 with at least ten samples above it, or
    * None when the sample is too small for any of them. Shares are in
    * thousandths so the sample-count test is exact. */
  def tail(xs: Seq[Double]): Option[(String, Double)] =
    Seq("p999" -> 999, "p99" -> 990, "p90" -> 900)
      .find { case (_, k) => xs.size.toLong * (1000 - k) >= 10000 }
      .map { case (n, k) => n -> quantile(xs, k / 1000.0) }

  /** Median, tail percentile and count of one timing, for the report. */
  def summary(xs: Seq[Double]): Map[String, Any] =
    if (xs.isEmpty) Map("n" -> 0)
    else Map("n" -> xs.size, "median" -> median(xs), "min" -> xs.min,
      "max" -> xs.max) ++ tail(xs).toMap
}
