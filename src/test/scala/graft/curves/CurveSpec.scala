package graft.curves

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

class CurveSpec extends AnyFunSuite with graft.GenSampling {

  test("makeCurve: hand-computed unweighted ECDF") {
    // values 10,20,30,40: equal weight 1, cum = 1/4, 2/4, 3/4, 4/4;
    // first y pinned to 0, last to 1 (curve_utils.rs:90-92)
    val Some((c, sumW)) = Curve.makeCurve(Seq(10f, 20f, 30f, 40f), None)
    assert(sumW == 4.0f)
    assert(c.points == Vector((10f, 0.0f), (20f, 0.5f), (30f, 0.75f), (40f, 1.0f)))
  }

  test("makeCurve: duplicate x keeps first-occurrence cumulative weight") {
    // sorted: 1,2,2,3 -> point at 2 has cum=2/4 (first occurrence only)
    val Some((c, _)) = Curve.makeCurve(Seq(2f, 1f, 3f, 2f), None)
    assert(c.points == Vector((1f, 0.0f), (2f, 0.5f), (3f, 1.0f)))
  }

  test("makeCurve: leading 0.0 emits no point (reference last_x quirk)") {
    val Some((c, _)) = Curve.makeCurve(Seq(0f, 5f, 9f), None)
    // 0.0 == initial last_x, so only 5 and 9 become points
    assert(c.points.map(_._1) == Vector(5f, 9f))
  }

  test("makeCurve: fewer than 2 distinct points fails") {
    assert(Curve.makeCurve(Seq(7f, 7f, 7f), None).isEmpty)
    assert(Curve.makeCurve(Seq.empty[Float], None).isEmpty)
  }

  test("weight: triangular focus window") {
    assert(Curve.weight(5f, None, 0f, 10f) == 1.0f)
    assert(Curve.weight(-1f, None, 0f, 10f) == 0.0f)
    assert(Curve.weight(5f, Some(5f), 0f, 10f) == 1.0f)
    assert(Curve.weight(2.5f, Some(5f), 0f, 10f) == 0.5f)
    assert(Curve.weight(7.5f, Some(5f), 0f, 10f) == 0.5f)
  }

  test("yAtX / xAtY: interpolation and bounds") {
    val c = Curve(Vector((0f, 0f), (10f, 0.5f), (20f, 1f)))
    assert(c.yAtX(-5f) == 0f && c.yAtX(25f) == 1f)
    assert(c.yAtX(5f) == 0.25f)
    assert(c.xAtY(0.25f) == 5f)
    assert(c.xAtY(0f) == 0f && c.xAtY(1f) == 20f)
    assert(c.xAtY(0.75f) == 15f)
  }

  test("simplify preserves epsilon accuracy and endpoints") {
    val n = 101
    val pts = (0 until n).map { i =>
      val x = i.toFloat
      (x, math.min(1.0, math.max(0.0, (x / 100.0) + 0.001 * math.sin(x))).toFloat)
    }.toVector
    val c = Curve(pts.updated(0, (0f, 0f)).updated(n - 1, (100f, 1f)))
    val s = c.simplify(0.01f)
    assert(s.points.length < c.points.length)
    assert(s.minX == c.minX && s.maxX == c.maxX)
    (0 to 100).foreach { i =>
      assert(math.abs(s.yAtX(i.toFloat) - c.yAtX(i.toFloat)) <= 0.0101f)
    }
  }

  test("average: pointwise mean on union grid") {
    val a = Curve(Vector((0f, 0f), (10f, 1f)))
    val b = Curve(Vector((0f, 0f), (20f, 1f)))
    val avg = Curve.average(Seq(a, b))
    // at x=10: a=1.0, b=0.5 -> 0.75
    assert(avg.yAtX(10f) == 0.75f)
    assert(avg.points.head._2 == 0f && avg.points.last._2 == 1f)
  }

  test("convolution: mass ends at 1, support approximately sums") {
    val f = Curve(Vector((100f, 0f), (160f, 1f)))
    val g = Curve(Vector((30f, 0f), (90f, 1f)))
    val conv = Curve.convolve(f, g)
    assert(conv.points.last._2 == 1.0f)
    assert(conv.points.head._2 == 0.0f)
    // support should cover roughly [130, 250]
    assert(conv.minX <= 150f && conv.maxX >= 230f)
  }

  test("transferProbability: departure long after arrival -> ~1, before -> ~0") {
    val arrival = Curve(Vector((0f, 0f), (60f, 1f)))
    val depLate = Curve(Vector((600f, 0f), (660f, 1f)))
    val depEarly = Curve(Vector((-600f, 0f), (-540f, 1f)))
    assert(Curve.transferProbability(arrival, depLate) > 0.99f)
    assert(Curve.transferProbability(arrival, depEarly) < 0.01f)
  }

  test("curve set interpolation: clamps and blends") {
    val c0 = Curve(Vector((0f, 0f), (10f, 1f)))
    val c1 = Curve(Vector((100f, 0f), (110f, 1f)))
    val cs = CurveSet(Vector((0f, c0), (100f, c1)))
    assert(cs.curveAtXWithContinuation(-5f) == c0)
    assert(cs.curveAtXWithContinuation(200f) == c1)
    val mid = cs.curveAtXWithContinuation(50f)
    // halfway blend: y at x=10 is 0.5*1.0 + 0.5*0.0 = 0.5
    assert(math.abs(mid.yAtX(10f) - 0.5f) < 1e-6f)
  }

  test("stopPairCurveSet: builds at least one focused curve on spread data") {
    val rng = new scala.util.Random(42)
    val pairs = (1 to 500).map { _ =>
      val s = (rng.nextInt(50) * 12).toFloat
      (s, s + (rng.nextInt(20) * 12).toFloat)
    }
    val Some(csd) = CurveBuilder.stopPairCurveSet(pairs)
    assert(csd.curveSet.curves.nonEmpty)
    assert(csd.precisionType == graft.model.PrecisionType.Specific)
    csd.curveSet.curves.foreach { case (_, c) =>
      assert(c.points.head._2 == 0.0f && c.points.last._2 == 1.0f)
      assert(c.maxX >= c.minX + 13.0f)
    }
    // foci must be ordered
    val foci = csd.curveSet.curves.map(_._1)
    assert(foci == foci.sorted)
  }

  test("generalDelayCurve: gates below 20 samples") {
    assert(CurveBuilder.generalDelayCurve((1 to 19).map(_.toFloat)).isEmpty)
    assert(CurveBuilder.generalDelayCurve((1 to 20).map(_.toFloat)).isDefined)
  }

  // ── r12 rewrite pins: the primitive-array makeCurve and the
  // bit-trick pair sort must reproduce the pre-r12 reference shapes
  // bit-for-bit (same total order, same float accumulation order) ──

  /** The pre-r12 makeCurve, verbatim — the reference the array rewrite
    * is pinned against. */
  private def makeCurveReference(values: Seq[Float],
                                 focus: Option[Float]): Option[(Curve, Float)] = {
    if (values.isEmpty) return None
    val sorted = values.sorted
    val minD = sorted.head
    val maxD = sorted.last
    val weights = sorted.map(v => Curve.weight(v, focus, minD, maxD))
    val sumW = weights.sum
    val buf = Vector.newBuilder[(Float, Float)]
    var lastX = 0.0f
    var cum = 0.0f
    var n = 0
    var i = 0
    while (i < sorted.length) {
      cum += weights(i)
      if (sorted(i) != lastX) {
        buf += ((sorted(i), cum / sumW))
        lastX = sorted(i)
        n += 1
      }
      i += 1
    }
    val tups = buf.result()
    if (n < 2) None
    else Some((Curve(tups.updated(0, (tups.head._1, 0.0f))
      .updated(n - 1, (tups.last._1, 1.0f))), sumW))
  }

  test("r12 pin: array makeCurve == reference on random rounded delays, both foci") {
    val rng = new scala.util.Random(7)
    for (trial <- 0 until 200) {
      val n = 1 + rng.nextInt(120)
      val vals = List.fill(n)(((rng.nextInt(501) - 250) * 12).toFloat)
      val focus = if (trial % 2 == 0) None else Some(vals.head)
      val got = Curve.makeCurve(vals, focus)
      val want = makeCurveReference(vals, focus)
      assert(got == want, s"trial $trial n=$n focus=$focus")
    }
  }

  test("r12 pin: bit-trick pair sort == sortBy(identity) incl. duplicates and 0.0") {
    // exercises the encode/decode path inside stopPairCurveSet via the
    // full build: a list-typed input with heavy duplicates, zeros and
    // negatives must produce the identical curve set the tuple sort did
    val rng = new scala.util.Random(13)
    for (trial <- 0 until 50) {
      val n = 25 + rng.nextInt(400)
      val pairs = List.fill(n) {
        val s = ((rng.nextInt(101) - 50) * 12).toFloat
        (s, s + ((rng.nextInt(41) - 20) * 12).toFloat)
      }
      // reference: pre-r12 shape — Seq sort, positional slices
      val sorted = pairs.sortBy(identity)
      val count = sorted.length
      val want = Curve.makeCurve(sorted.map(_._1), None).flatMap { case (ic, _) =>
        val markers = scala.collection.mutable.ArrayBuffer[Float](ic.minX, ic.minX)
        Curve.recurseMarkers(ic, markers, ic.minX, ic.maxX, count.toFloat)
        markers += ic.maxX
        markers += ic.maxX
        var sampleSize = 0
        val curves = Vector.newBuilder[(Float, Curve)]
        var nCurves = 0
        markers.iterator.sliding(3).withPartial(false).foreach { w =>
          val (lower, mid, upper) = (w(0), w(1), w(2))
          val minIndex = (count * ic.yAtX(lower)).toInt
          val maxIndex = (count * ic.yAtX(upper)).toInt
          val slice = sorted.slice(minIndex, maxIndex).map(_._2)
          sampleSize += slice.length
          if (slice.length > 1) {
            Curve.makeCurve(slice, Some(mid)).foreach { case (c0, _) =>
              val c = c0.simplify(0.001f)
              if (c.maxX >= c.minX + 13.0f) { curves += ((mid, c)); nCurves += 1 }
            }
          }
        }
        if (nCurves == 0) None
        else Some(CurveSetData(CurveSet(curves.result()),
          graft.model.PrecisionType.Specific, sampleSize / nCurves))
      }
      assert(CurveBuilder.stopPairCurveSet(pairs) == want, s"trial $trial n=$n")
    }
  }

  // ── the one ECDF loop over runs ──

  test("runs: counts past 2^24 give the expanded loop's curve and weight sum") {
    // an f32 running sum of ones stops at 2^24, so the expanded loop gives
    // y(2.0) = 1.0 and sumW = 2^24, not (2^24 + 1) / (2^24 + 2)
    val big = 1 << 24
    val runs = Runs.fromCounts(Seq((1.0f, big.toLong), (2.0f, 1L), (3.0f, 1L)))
    val expanded = new Array[Float](big + 2)
    java.util.Arrays.fill(expanded, 0, big, 1.0f)
    expanded(big) = 2.0f
    expanded(big + 1) = 3.0f
    val want = Curve.makeCurve(scala.collection.immutable.ArraySeq.unsafeWrapArray(expanded), None)
    val got = Curve.makeCurve(runs, None)
    assert(got == want)
    assert(got.get._2 == 16777216.0f)
    assert(got.get._1.yAtX(2.0f) == 1.0f)
  }

  test("runs-fed stopPairCurveSet == the Seq build, incl. runs straddling a slice boundary") {
    val rng = new scala.util.Random(17)
    var built = 0
    var straddles = 0
    for (trial <- 0 until 60) {
      // few distinct 12 s-rounded pairs with large counts: long runs that
      // the marker slices cut through
      val hist = Seq.fill(3 + rng.nextInt(25)) {
        val s = ((rng.nextInt(21) - 10) * 12).toFloat
        ((s, s + ((rng.nextInt(11) - 5) * 12).toFloat), 1L + rng.nextInt(40))
      }
      val runs = PairRuns.fromCounts(hist)
      val expanded = rng.shuffle(hist.flatMap { case (p, c) => Seq.fill(c.toInt)(p) })
      val got = CurveBuilder.stopPairCurveSet(runs)
      assert(got == CurveBuilder.stopPairCurveSet(expanded), s"trial $trial")
      if (got.isDefined) built += 1
      // marker slice boundaries that fall strictly inside a run
      val count = runs.total
      val cum = runs.counts.scanLeft(0L)(_ + _).toSet
      Curve.makeCurve(expanded.map(_._1), None).foreach { case (ic, _) =>
        val markers = scala.collection.mutable.ArrayBuffer[Float](ic.minX)
        Curve.recurseMarkers(ic, markers, ic.minX, ic.maxX, count.toFloat)
        markers += ic.maxX
        straddles += markers.count { m =>
          val idx = (count * ic.yAtX(m)).toLong
          idx > 0 && idx < count && !cum.contains(idx)
        }
      }
    }
    assert(built > 30 && straddles > 30, s"built $built, straddles $straddles")
  }

  // ── property tests ──

  private val valuesGen: Gen[List[Float]] =
    Gen.listOfN(50, Gen.choose(-3000, 3000)).map(_.map(v => ((v / 12) * 12).toFloat))

  test("property: makeCurve yields a monotone CDF in [0,1]") {
    forAllSamples(valuesGen) { vs =>
      Curve.makeCurve(vs, None).foreach { case (c, _) =>
        val ys = c.points.map(_._2)
        val xs = c.points.map(_._1)
        assert(ys.head == 0.0f && ys.last == 1.0f)
        assert(ys.zip(ys.tail).forall { case (a, b) => a <= b })
        assert(xs.zip(xs.tail).forall { case (a, b) => a < b })
      }
    }
  }

  test("property: xAtY is a right inverse of yAtX on strictly increasing parts") {
    forAllSamples(valuesGen) { vs =>
      Curve.makeCurve(vs, None).foreach { case (c, _) =>
        Seq(0.1f, 0.25f, 0.5f, 0.75f, 0.9f).foreach { p =>
          val x = c.xAtY(p)
          assert(math.abs(c.yAtX(x) - p) < 1e-3f)
        }
      }
    }
  }

  test("property: simplify(eps) stays within eps everywhere") {
    forAllSamples(valuesGen) { vs =>
      Curve.makeCurve(vs, None).foreach { case (c, _) =>
        val s = c.simplify(0.05f)
        c.points.foreach { case (x, y) =>
          assert(math.abs(s.yAtX(x) - y) <= 0.0501f)
        }
      }
    }
  }

  test("property: convolution of random curves conserves probability mass") {
    forAllSamples(Gen.zip(valuesGen, valuesGen), n = 30) { case (a, b) =>
      for {
        (ca, _) <- Curve.makeCurve(a, None)
        (cb, _) <- Curve.makeCurve(b.map(v => math.abs(v) + 10f), None)
      } {
        val conv = Curve.convolve(ca, cb)
        val ys = conv.points.map(_._2)
        assert(ys.head == 0.0f && ys.last == 1.0f)
        assert(ys.zip(ys.tail).forall { case (p, q) => p <= q })
        // support starts at/after the sum of the mins, minus grid padding:
        // step = max(12, span/200*2) <= 120 for ±6000 sums, grid pads 2 steps
        assert(conv.minX >= ca.minX + cb.minX - 2 * 120 - 12)
      }
    }
  }

  test("property: curve-set continuation is a valid CDF for any query delay") {
    forAllSamples(Gen.zip(valuesGen, Gen.choose(-600f, 600f)), n = 30) { case (vs, x) =>
      for {
        (c1, _) <- Curve.makeCurve(vs, None)
        (c2, _) <- Curve.makeCurve(vs.map(_ + 120f), None)
      } {
        val cs = CurveSet(Vector((0f, c1), (240f, c2)))
        val blended = cs.curveAtXWithContinuation(x)
        val ys = blended.points.map(_._2)
        assert(ys.head == 0.0f && ys.last == 1.0f)
        assert(ys.zip(ys.tail).forall { case (p, q) => p <= q })
        // clamping: outside the focus range the member curve is returned
        if (x <= 0f) assert(blended == c1)
        if (x >= 240f) assert(blended == c2)
      }
    }
  }

  test("property: transferProbability is a probability and monotone in slack") {
    forAllSamples(valuesGen, n = 30) { vs =>
      for ((arr, _) <- Curve.makeCurve(vs, None)) {
        val depEarly = Curve(Vector((arr.minX - 500f, 0f), (arr.minX - 400f, 1f)))
        val depLate = Curve(Vector((arr.maxX + 400f, 0f), (arr.maxX + 500f, 1f)))
        val pEarly = Curve.transferProbability(arr, depEarly)
        val pLate = Curve.transferProbability(arr, depLate)
        assert(pEarly >= -1e-4f && pEarly <= 1.0001f)
        assert(pLate >= -1e-4f && pLate <= 1.0001f)
        assert(pLate >= pEarly) // more slack never hurts
        assert(pLate > 0.99f && pEarly < 0.01f)
      }
    }
  }
}
