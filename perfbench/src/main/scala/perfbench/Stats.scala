package perfbench

/** The arithmetic behind every reported number, kept apart so the
  * benchmark's own tests can pin it. */
object Stats {

  /** Quantile `q` in [0, 1] of `xs` by linear interpolation between
    * closest ranks (the "inclusive" rule: 0 is the minimum, 1 the
    * maximum). Empty input has no quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    require(q >= 0 && q <= 1, s"quantile $q outside [0, 1]")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** CPU time this JVM has used so far, all threads, in milliseconds. Unlike
    * wall time it does not grow when the host takes the CPUs away. */
  def processCpuMs(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  /** Outcome of one timed operation: its latency, or the error it threw.
    * Failed operations count against `attempted` and are left out of
    * every latency and total. */
  final case class Outcome(kind: String, latencyMs: Double, error: Option[Throwable]) {
    def ok: Boolean = error.isEmpty
  }

  final case class Tally(attempted: Long, failed: Long)

  def tally(outcomes: Seq[Outcome]): Tally =
    Tally(outcomes.size.toLong, outcomes.count(!_.ok).toLong)

  /** Latencies of the successful operations of one kind (all kinds when
    * `kind` is None). */
  def latencies(outcomes: Seq[Outcome], kind: Option[String] = None): Seq[Double] =
    outcomes.filter(o => o.ok && kind.forall(_ == o.kind)).map(_.latencyMs)

  /** Run `body`, timing it; an exception becomes a failed outcome instead
    * of a time. */
  def timed(kind: String)(body: => Unit): Outcome = {
    val t0 = System.nanoTime()
    try { body; Outcome(kind, (System.nanoTime() - t0) / 1e6, None) }
    catch { case e: Exception => Outcome(kind, Double.NaN, Some(e)) }
  }
}
