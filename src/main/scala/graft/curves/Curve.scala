package graft.curves

/** Piecewise-linear empirical CDF ("curve") — the reference's core analytic
  * value type, reconstructed from the call sites of the unvendored
  * `dystonse-curves` crate (see SURVEY.md §1.1.5).
  *
  * Invariants (reference: `src/analyser/curve_utils.rs:65-94`):
  *   - x strictly increasing
  *   - y non-decreasing, first y == 0.0, last y == 1.0
  *   - at least 2 points
  *
  * Arithmetic is Float (f32) to mirror the reference's numerics.
  */
final case class Curve(points: Vector[(Float, Float)]) {
  require(points.length >= 2, s"Curve needs >=2 points, got ${points.length}")

  def minX: Float = points.head._1
  def maxX: Float = points.last._1

  /** CDF evaluation: 0 before minX, 1 after maxX, linear interpolation
    * between adjacent points (reference `y_at_x`). */
  def yAtX(x: Float): Float = {
    if (x <= minX) return points.head._2
    if (x >= maxX) return points.last._2
    var i = 1
    while (i < points.length && points(i)._1 < x) i += 1
    val (x0, y0) = points(i - 1)
    val (x1, y1) = points(i)
    if (x1 == x0) y1
    else y0 + (y1 - y0) * ((x - x0) / (x1 - x0))
  }

  /** Quantile: inverse CDF with linear interpolation (reference `x_at_y`).
    * y below the first point's y maps to minX; above the last, maxX.
    * On flat segments returns the leftmost x achieving y. */
  def xAtY(y: Float): Float = {
    if (y <= points.head._2) return minX
    if (y >= points.last._2) return maxX
    var i = 1
    while (i < points.length && points(i)._2 < y) i += 1
    val (x0, y0) = points(i - 1)
    val (x1, y1) = points(i)
    if (y1 == y0) x0
    else x0 + (x1 - x0) * ((y - y0) / (y1 - y0))
  }

  /** Point reduction preserving max vertical error <= eps
    * (Ramer-Douglas-Peucker on y-deviation; the reference calls the
    * unvendored `curve.simplify(ε)` — SURVEY.md §2.4 A4). Endpoints kept. */
  def simplify(eps: Float): Curve = {
    if (points.length <= 2) return this
    val keep = Array.fill(points.length)(false)
    keep(0) = true
    keep(points.length - 1) = true
    def rdp(lo: Int, hi: Int): Unit = {
      if (hi - lo < 2) return
      val (xLo, yLo) = points(lo)
      val (xHi, yHi) = points(hi)
      var best = -1
      var bestErr = 0.0f
      var i = lo + 1
      while (i < hi) {
        val (x, y) = points(i)
        val yLine =
          if (xHi == xLo) yLo
          else yLo + (yHi - yLo) * ((x - xLo) / (xHi - xLo))
        val err = math.abs(y - yLine)
        if (err > bestErr) { bestErr = err; best = i }
        i += 1
      }
      if (bestErr > eps && best >= 0) {
        keep(best) = true
        rdp(lo, best)
        rdp(best, hi)
      }
    }
    rdp(0, points.length - 1)
    Curve(points.indices.collect { case i if keep(i) => points(i) }.toVector)
  }

  /** Cap the number of points (reference `serialize_compact_limited(120)`,
    * `src/importer/per_schedule_importer.rs:362`): progressively coarser
    * simplification until the curve fits. */
  def capPoints(n: Int): Curve = {
    if (points.length <= n) return this
    var eps = 0.001f
    var c = this
    while (c.points.length > n && eps < 1.0f) {
      c = simplify(eps)
      eps *= 2.0f
    }
    if (c.points.length > n) {
      // last resort: uniform subsample keeping endpoints
      val idx = (0 until n).map(i => (i.toLong * (points.length - 1) / (n - 1)).toInt).distinct
      c = Curve(idx.map(points).toVector)
    }
    c
  }
}

object Curve {

  /** Triangular focus weight (reference `get_weight`,
    * `src/analyser/curve_utils.rs:44-63`): 1 everywhere when no focus;
    * with a focus, 1 at the focus falling linearly to 0 at the bounds. */
  def weight(delay: Float, focus: Option[Float], minD: Float, maxD: Float): Float = {
    if (delay < minD || delay > maxD) return 0.0f
    focus match {
      case None => 1.0f
      case Some(f) =>
        if (delay == f) 1.0f
        else if (delay < f) (delay - minD) / (f - minD)
        else 1.0f - ((delay - f) / (maxD - f))
    }
  }

  def makeCurve(values: Seq[Float], focus: Option[Float]): Option[(Curve, Float)] =
    makeCurve(Runs.of(values), focus)

  /** Weighted empirical CDF (reference `make_curve`,
    * `src/analyser/curve_utils.rs:65-94`) — the one ECDF loop. Returns the
    * curve and the sum of weights, or None when fewer than 2 points result.
    *
    * Faithful to the reference over the expanded sorted values: weights
    * sum left to right in f32; each new x emits a point at its FIRST
    * occurrence with the cumulative weight up to and including it; `last_x`
    * starts at 0.0, so a leading 0.0 emits no point; first y is forced to
    * 0, last to 1. A run of c values adds its weight c times in that order,
    * so any count gives the expanded loop's bits. Unfocused weights are all
    * 1.0f, and an f32 sum of k ones from an integer s is exactly
    * min(s + k, 2^24): that closed form keeps the unfocused loop
    * O(distinct values). */
  def makeCurve(runs: Runs, focus: Option[Float]): Option[(Curve, Float)] = {
    val xs = runs.xs
    val k = xs.length
    if (k == 0) return None
    val minD = xs(0)
    val maxD = xs(k - 1)
    // the running sum after each run's first occurrence: the emitted cum
    val firstCum = new Array[Float](k)
    var sumW = 0.0f
    var j = 0
    while (j < k) {
      val w = weight(xs(j), focus, minD, maxD)
      sumW += w
      firstCum(j) = sumW
      val rest = runs.counts(j) - 1
      if (focus.isEmpty) sumW = math.min(sumW.toLong + rest, 1L << 24).toFloat
      else {
        var r = 0L
        while (r < rest) { sumW += w; r += 1 }
      }
      j += 1
    }
    val buf = Vector.newBuilder[(Float, Float)]
    var lastX = 0.0f
    var n = 0
    j = 0
    while (j < k) {
      if (xs(j) != lastX) {
        buf += ((xs(j), firstCum(j) / sumW))
        lastX = xs(j)
        n += 1
      }
      j += 1
    }
    val tups = buf.result()
    if (n < 2) None
    else Some((Curve(tups
      .updated(0, (tups.head._1, 0.0f))
      .updated(n - 1, (tups.last._1, 1.0f))), sumW))
  }

  /** Pointwise mean of several CDFs over the union x-grid (reference
    * `Curve::average`, used by `src/types/curve_data.rs:21-43`). */
  def average(curves: Seq[Curve]): Curve = {
    require(curves.nonEmpty, "average of zero curves")
    val grid = curves.flatMap(_.points.map(_._1)).distinct.sorted
    val pts = grid.map { x =>
      (x, curves.map(_.yAtX(x)).sum / curves.length)
    }.toVector
    // pin CDF invariants
    Curve(pts.updated(0, (pts.head._1, 0.0f)).updated(pts.length - 1, (pts.last._1, 1.0f)))
  }

  /** Adaptive marker recursion (reference `recurse`,
    * `src/analyser/curve_utils.rs:10-42`): subdivide [lower, upper] while a
    * new marker can stay >=20 s AND >=20 samples away from both neighbors;
    * markers appended in-order (left recursion, mid, right recursion). */
  def recurseMarkers(curve: Curve, markers: scala.collection.mutable.Buffer[Float],
                     lower: Float, upper: Float, count: Float): Unit = {
    val minXByDelay = lower + 20.0f
    val maxXByDelay = upper - 20.0f
    val lowerY = curve.yAtX(lower)
    val upperY = curve.yAtX(upper)
    val minYByCount = lowerY + (20.0f / count)
    val maxYByCount = upperY - (20.0f / count)
    val minXByCount = curve.xAtY(minYByCount)
    val maxXByCount = curve.xAtY(maxYByCount)
    val minX = math.max(minXByDelay, minXByCount)
    val maxX = math.min(maxXByDelay, maxXByCount)
    if (minX <= maxX) {
      val midX = (minX + maxX) / 2.0f
      recurseMarkers(curve, markers, lower, midX, count)
      markers += midX
      recurseMarkers(curve, markers, midX, upper, count)
    }
  }

  /** Discrete convolution of an (anchored) arrival CDF with a duration CDF
    * (reference `TimeCurve::add_duration_curve`,
    * `src/monitor/time_curve.rs:34-77`): step grid sized
    * max(12, range/200*2), densities from CDF differences over half-steps,
    * cumulative sum clamped at 1, simplify(0.05). */
  def convolve(f: Curve, g: Curve): Curve = {
    var minN = math.floor(f.xAtY(0.01f) + g.xAtY(0.01f)).toInt
    var maxN = math.ceil(f.xAtY(0.99f) + g.xAtY(0.99f)).toInt
    val step = math.max(12, (maxN - minN) / 200 * 2)
    val half = step / 2
    minN -= step
    maxN += step
    val minK = g.minX.toInt - step
    val maxK = math.ceil(g.maxX).toInt + step
    val pts = Vector.newBuilder[(Float, Float)]
    var sum = 0.0f
    var first = true
    var n = minN
    var broke = false
    while (n < maxN && !broke) {
      var k = minK
      while (k < maxK) {
        val fAt = f.yAtX((n - k + half).toFloat) - f.yAtX((n - k - half).toFloat)
        val gAt = g.yAtX((k + half).toFloat) - g.yAtX((k - half).toFloat)
        sum += math.max(0.0f, fAt * gAt)
        k += step
      }
      if (first) { pts += (((n - step).toFloat, 0.0f)); first = false }
      if (sum > 1.0f) broke = true
      else pts += ((n.toFloat, sum))
      n += step
    }
    pts += (((maxN + step).toFloat, 1.0f))
    Curve(dedupeX(pts.result())).simplify(0.05f)
  }

  /** Probability of catching a departure given an arrival curve, both
    * anchored to absolute seconds (reference
    * `TimeCurve::get_transfer_probability`, `src/monitor/time_curve.rs:18-32`):
    * 1 - mean over 100 percentiles of departureCdf(arrivalQuantile(p)). */
  def transferProbability(arrival: Curve, departure: Curve): Float = {
    var missProb = 0.0f
    var p = 0
    while (p < 100) {
      val arrivalAt = arrival.xAtY(p.toFloat / 100.0f)
      missProb += departure.yAtX(arrivalAt) / 100.0f
      p += 1
    }
    1.0f - missProb
  }

  private def dedupeX(pts: Vector[(Float, Float)]): Vector[(Float, Float)] = {
    val b = Vector.newBuilder[(Float, Float)]
    var last = Float.NaN
    pts.foreach { case (x, y) =>
      if (x != last) { b += ((x, y)); last = x }
    }
    b.result()
  }
}

/** A conditional distribution family P(end delay | start delay ≈ focus):
  * sorted list of (focus, curve) pairs (reference `CurveSet`). */
final case class CurveSet(curves: Vector[(Float, Curve)]) {

  /** Interpolate between member curves for an initial delay x (reference
    * `curve_at_x_with_continuation`, used at `src/predictor/mod.rs:324`):
    * clamp to the outermost curves; between two foci, pointwise
    * linear blend of the neighbouring CDFs over the union x-grid. */
  def curveAtXWithContinuation(x: Float): Curve = {
    require(curves.nonEmpty, "empty curve set")
    if (x <= curves.head._1) return curves.head._2
    if (x >= curves.last._1) return curves.last._2
    val i = curves.indexWhere(_._1 >= x)
    val (f0, c0) = curves(i - 1)
    val (f1, c1) = curves(i)
    if (f1 == f0) return c1
    val w1 = (x - f0) / (f1 - f0)
    val w0 = 1.0f - w1
    val grid = (c0.points.map(_._1) ++ c1.points.map(_._1)).distinct.sorted
    val pts = grid.map(gx => (gx, w0 * c0.yAtX(gx) + w1 * c1.yAtX(gx))).toVector
    Curve(pts.updated(0, (pts.head._1, 0.0f)).updated(pts.length - 1, (pts.last._1, 1.0f)))
  }
}

/** Curve with provenance (reference `CurveData`,
  * `src/types/curve_data.rs:13-18`). */
final case class CurveData(curve: Curve, precisionType: Int, sampleSize: Int)

/** Curve set with provenance (reference `CurveSetData`,
  * `src/types/curve_data.rs:46-51`). */
final case class CurveSetData(curveSet: CurveSet, precisionType: Int, sampleSize: Int)
