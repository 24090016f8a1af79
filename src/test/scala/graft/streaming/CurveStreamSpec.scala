package graft.streaming

import graft.SparkSpec
import graft.curves.{Curve, CurveBuilder, Runs}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Incremental curve maintenance: the count histogram must be a LOSSLESS
  * sufficient statistic (bit-equal curves vs the expanded sample list), the
  * stream must converge to the batch answer under any batch split, and
  * state must be bounded by the delay domain. */
class CurveStreamSpec extends SparkSpec {

  test("histogram runs are bit-equal to makeCurve on expansions") {
    val rnd = new scala.util.Random(11)
    (0 until 50).foreach { trial =>
      // adversarial inclusions: exact 0.0 (the lastX quirk), negatives,
      // heavy duplication
      val values = Seq.fill(2 + rnd.nextInt(60))(
        (rnd.nextInt(21) - 10) * (if (trial % 3 == 0) 12 else 1))
      val hist = values.groupBy(identity).view
        .mapValues(_.size.toLong).toSeq
        .map { case (v, c) => (v.toFloat, c) }
      val expanded = values.map(_.toFloat)
      // the focused loop too: a run adds its weight once per value
      val focus = if (trial % 2 == 0) None else Some(expanded.head)
      val got = Curve.makeCurve(Runs.fromCounts(hist), focus)
      val want = Curve.makeCurve(expanded, focus)
      assert(got.map(_._1.points) == want.map(_._1.points),
        s"trial $trial diverged for $values")
      assert(got.map(_._2) == want.map(_._2))
    }
  }

  test("streaming curves converge to the batch builder across batch splits") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(5)
    // 3 groups: two above the sample gate, one below
    val obs = (0 until 90).map { i =>
      val g = i % 3
      CurveStream.DelayObs(s"r$g", g.toLong, 3, 1, 2,
        if (g == 2 && i >= 6) -999 else (rnd.nextInt(50) - 10) * 12)
    }.filterNot(o => o.route_id == "r2" && o.delay == -999) // r2: only 2 obs
    val input = MemoryStream[CurveStream.DelayObs]
    val q = CurveStream.generalCurveStream(input.toDS())
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("curve_updates").start()
    try {
      // uneven batch split exercises cross-batch accumulation
      input.addData(obs.take(10)); q.processAllAvailable()
      input.addData(obs.slice(10, 17)); q.processAllAvailable()
      input.addData(obs.drop(17)); q.processAllAvailable()
      val updates = spark.table("curve_updates")
        .as[CurveStream.CurveUpdate].collect()
      // LAST update per group is the converged curve; a group's
      // sample_size is strictly monotone across its emissions, so maxBy
      // is order-independent
      val last = updates
        .groupBy(u => (u.route_id, u.route_variant, u.stop_index,
          u.event_type, u.time_slot_id))
        .map { case (_, us) => us.maxBy(_.sample_size) }.toSeq
      val want = CurveStream.generalCurvesBatch(obs.toDF())
        .as[CurveStream.CurveUpdate].collect().toSeq
      def key(u: CurveStream.CurveUpdate) =
        (u.route_id, u.route_variant, u.stop_index, u.event_type, u.time_slot_id)
      assert(last.map(key).toSet == want.map(key).toSet)
      val wantByKey = want.map(u => key(u) -> u).toMap
      last.foreach { u =>
        val w = wantByKey(key(u))
        assert(u.points == w.points && u.sample_size == w.sample_size)
      }
      // sub-gate group emitted nothing
      assert(!last.map(_.route_id).contains("r2"))
      // ...and the batch twin equals the ORIGINAL batch builder's curve
      val g0 = obs.filter(_.route_id == "r0").map(_.delay.toFloat)
      val direct = CurveBuilder.generalDelayCurve(g0).get
      val streamed = last.find(_.route_id == "r0").get
      assert(streamed.points.map(p => (p.x, p.y)) == direct.curve.points)
      assert(streamed.sample_size == g0.size)
    } finally q.stop()
  }

  test("streaming pair curve sets equal the shared batch build over the union") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(7)
    def rd() = ((rnd.nextInt(60) - 20) * 12).toFloat // rounded, thresholded
    // group A: 60 pairs over 2 slots (above gate); group B: 5 pairs (below)
    val obs = (0 until 60).map { i =>
      CurveStream.PairObs("rA", 1L, 2, 5, 1, 3 + (i % 2), rd(), rd())
    } ++ (0 until 5).map { _ =>
      CurveStream.PairObs("rB", 1L, 1, 2, 1, 3, rd(), rd())
    }
    val input = MemoryStream[CurveStream.PairObs]
    val q = CurveStream.pairCurveStream(input.toDS())
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("pair_updates").start()
    try {
      input.addData(obs.take(13)); q.processAllAvailable()
      input.addData(obs.slice(13, 40)); q.processAllAvailable()
      input.addData(obs.drop(40)); q.processAllAvailable()
      val updates = spark.table("pair_updates")
        .as[CurveStream.CurveSetUpdate].collect()
      // converged = per (group, slot) the emission with max sample_size
      val last = updates.groupBy(u => (u.route_id, u.time_slot_id))
        .map { case (_, us) => us.maxBy(_.sample_size) }
      // ground truth: the SAME shared body over the full union, per group
      val wantA = graft.analyse.DelayAnalysis.buildPairCurveSets(
        obs.filter(_.route_id == "rA")
          .map(o => (o.time_slot_id, o.start_delay, o.end_delay)))
      assert(wantA.nonEmpty)
      wantA.foreach { case (slot, pt, n, curves) =>
        val got = last.find(u => u.route_id == "rA" && u.time_slot_id == slot).get
        assert(got.sample_size == n && got.precision_type == pt)
        assert(got.curves == curves)
        assert(got.start_stop_index == 2 && got.end_stop_index == 5)
      }
      // the 5-observation group never crosses the F9 gate
      assert(!updates.exists(_.route_id == "rB"))
    } finally q.stop()
  }

  test("state is bounded by distinct delays, not observation count") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[CurveStream.DelayObs]
    val q = CurveStream.generalCurveStream(input.toDS())
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("curve_bounded").start()
    try {
      // 1000 observations, only 3 distinct delays, one group
      input.addData((0 until 1000).map(i =>
        CurveStream.DelayObs("r", 1L, 1, 1, 1, (i % 3) * 12)))
      q.processAllAvailable()
      input.addData((0 until 1000).map(i =>
        CurveStream.DelayObs("r", 1L, 1, 1, 1, (i % 3) * 12)))
      q.processAllAvailable()
      // one state row per GROUP regardless of 2000 observations
      val stateRows = q.recentProgress.flatMap(_.stateOperators.map(_.numRowsTotal)).max
      assert(stateRows == 1L)
      val last = spark.table("curve_bounded")
        .as[CurveStream.CurveUpdate].collect().last
      assert(last.sample_size == 2000)
      // curve over 3 distinct x values: 2 simplified points minimum, y ends pinned
      assert(last.points.head.y == 0.0f && last.points.last.y == 1.0f)
    } finally q.stop()
  }
}
