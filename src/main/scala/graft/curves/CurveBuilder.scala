package graft.curves

import scala.collection.mutable
import graft.model.PrecisionType

/** Group-local curve construction — the analytic heart of the engine.
  * These pure functions run inside Spark Aggregators / flatMapGroups over
  * one (route, variant, stop-pair, time-slot, event-type) group; the
  * distribution across groups is Spark's job (SURVEY.md §2.4 A7/A8).
  */
object CurveBuilder {

  /** Delay threshold: |delay| >= 3000 s is discarded before curve building
    * (reference `src/analyser/specific_curves.rs:262-264,315`). */
  val DelayThreshold = 3000

  /** General per-stop delay curve (reference `generate_delay_curve_data`,
    * `src/analyser/specific_curves.rs:356-369`): >=20 values, make_curve
    * without focus, simplify(0.01), PrecisionType=SemiSpecific(2). */
  def generalDelayCurve(delays: Seq[Float]): Option[CurveData] =
    unfocusedCurve(delays.length, Runs.of(delays), atLeast = 20, eps = 0.01f, PrecisionType.SemiSpecific)

  def generalDelayCurve(delays: Runs): Option[CurveData] =
    unfocusedCurve(delays.total, delays, atLeast = 20, eps = 0.01f, PrecisionType.SemiSpecific)

  /** Default-curve leaf build (reference `src/analyser/default_curves.rs:135-160`):
    * >=10 values per (route_type, section, slot, event), make_curve without
    * focus, simplify(0.001). */
  def defaultCurve(delays: Seq[Float]): Option[CurveData] =
    unfocusedCurve(delays.length, Runs.of(delays), atLeast = 10, eps = 0.001f, PrecisionType.General)

  def defaultCurve(delays: Runs): Option[CurveData] =
    unfocusedCurve(delays.total, delays, atLeast = 10, eps = 0.001f, PrecisionType.General)

  /** The sample gate runs before the runs are built; sample sizes
    * saturate at Int.MaxValue instead of wrapping. */
  private def unfocusedCurve(n: Long, delays: => Runs, atLeast: Int, eps: Float,
                             precision: Int): Option[CurveData] =
    if (n < atLeast) None
    else Curve.makeCurve(delays, None).map { case (c, _) =>
      CurveData(c.simplify(eps), precision, math.min(n, Int.MaxValue.toLong).toInt)
    }

  /** Stop-pair curve-set build (reference `generate_curves_for_stop_pair`,
    * `src/analyser/specific_curves.rs:371-426`) over a pair list; see the
    * runs overload. */
  def stopPairCurveSet(pairs: Seq[(Float, Float)]): Option[CurveSetData] =
    stopPairCurveSet(PairRuns.of(pairs))

  /** Input: (start-stop departure delay, end-stop delay) pairs, already
    * thresholded and rounded; caller must have checked `total > 20` (F9).
    * Steps: order pairs; build the initial-delay CDF; compute adaptive
    * markers (doubled at both ends); for each (lower, mid, upper) marker
    * window take the pairs at CDF index range [lo, hi) of that order,
    * build a focused curve on their END delays, simplify(0.001), drop
    * curves with span < 13 s; sample_size = total slice sizes / number of
    * curves. A slice's end delays are its overlap with the cumulative run
    * counts — the multiset a positional slice of the expanded list holds.
    *
    * The order is (start, end), not start alone: with 12 s rounding equal
    * start delays are common, and within a tie a start-only stable sort
    * keeps the collection order, which follows shuffle layout. The
    * reference sorts by start only (`specific_curves.rs:372`), so its tie
    * output depends on input order too; the full key makes ours
    * reproducible across partitionings. */
  def stopPairCurveSet(pairs: PairRuns): Option[CurveSetData] = {
    val count = pairs.total
    val k = pairs.counts.length
    // run r covers positions [cum(r), cum(r + 1)) of the expanded order
    val cum = new Array[Long](k + 1)
    for (r <- 0 until k) cum(r + 1) = cum(r) + pairs.counts(r)
    val sliceEnds = new Array[Float](k)
    val sliceCounts = new Array[Long](k)
    Curve.makeCurve(Runs.sortedRuns(pairs.starts, pairs.counts, k), None).flatMap { case (initialCurve, _) =>
      val markers = mutable.ArrayBuffer[Float](initialCurve.minX, initialCurve.minX)
      Curve.recurseMarkers(initialCurve, markers, initialCurve.minX, initialCurve.maxX, count.toFloat)
      markers += initialCurve.maxX
      markers += initialCurve.maxX

      var sampleSize = 0L
      val curves = Vector.newBuilder[(Float, Curve)]
      var nCurves = 0
      markers.iterator.sliding(3).withPartial(false).foreach { w =>
        val (lower, mid, upper) = (w(0), w(1), w(2))
        val lo = math.max((count * initialCurve.yAtX(lower)).toLong, 0L)
        val hi = math.min((count * initialCurve.yAtX(upper)).toLong, count)
        val sliceLen = math.max(hi - lo, 0L)
        sampleSize += sliceLen
        if (sliceLen > 1) {
          var m = 0
          var r = java.util.Arrays.binarySearch(cum, lo)
          r = if (r >= 0) r else -r - 2
          while (r < k && cum(r) < hi) {
            val overlap = math.min(cum(r + 1), hi) - math.max(cum(r), lo)
            if (overlap > 0) { sliceEnds(m) = pairs.ends(r); sliceCounts(m) = overlap; m += 1 }
            r += 1
          }
          Curve.makeCurve(Runs.sortedRuns(sliceEnds, sliceCounts, m), Some(mid)).foreach { case (c0, _) =>
            val c = c0.simplify(0.001f)
            if (c.maxX >= c.minX + 13.0f) {
              curves += ((mid, c))
              nCurves += 1
            }
          }
        }
      }
      if (nCurves == 0) None
      else Some(CurveSetData(CurveSet(curves.result()), PrecisionType.Specific,
        math.min(sampleSize / nCurves, Int.MaxValue.toLong).toInt))
    }
  }

  /** Walk-time curve synthesis (reference `src/monitor/journey_data.rs:558-594`):
    * distance -> pseudo-normal (cos-sqrt) CDF of walk duration. Speeds
    * 0.8-3.5 m/s, detour factor 1.4-1.8, fixed delays 10-45 s; distances
    * < 20 m get a flat ±12 s curve around the fixed-delay midpoint. */
  def walkCurve(distanceMeters: Float): Curve = {
    if (distanceMeters < 20.0f) {
      val mid = (10.0f + 45.0f) / 2.0f
      Curve(Vector((mid - 12.0f, 0.0f), (mid + 12.0f, 1.0f)))
    } else {
      val minDur = distanceMeters * 1.4f / 3.5f + 10.0f
      val maxDur = distanceMeters * 1.8f / 0.8f + 45.0f
      val n = 21
      val pts = (0 until n).map { i =>
        val p = i.toFloat / (n - 1).toFloat
        // cos-shaped sigmoid in [0,1]: y = (1 - cos(pi * p)) / 2, applied on a
        // sqrt-warped axis to skew mass toward shorter durations
        val x = minDur + (maxDur - minDur) * p
        val warped = math.sqrt(p.toDouble).toFloat
        val y = ((1.0 - math.cos(math.Pi * warped)) / 2.0).toFloat
        (x, y)
      }.toVector
      Curve(pts.updated(0, (pts.head._1, 0.0f)).updated(n - 1, (pts.last._1, 1.0f))).simplify(0.01f)
    }
  }
}
