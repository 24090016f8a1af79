package graft.analyse

import graft.SparkSpec
import graft.gtfs.GtfsStatic
import graft.model.{EventType, PrecisionType, TimeSlot}
import graft.curves.{Curve, CurveBuilder}
import org.apache.spark.sql.functions._
import java.sql.{Date, Timestamp}

/** The analyse pipeline over the tiny GTFS fixture plus synthetic records:
  * 40 runs of trip tA1 (4 stops) on weekday mornings, with deterministic
  * delays and a gap at stop 3 to exercise the forward fill. */
class DelayAnalysisSpec extends SparkSpec {

  private lazy val schedule = GtfsStatic.read(spark, "fixtures/gtfs_tiny")

  /** 40 vehicles of tA1 (one per day pair), delays:
    * stop1 dep = 12*i mod 480, stop2 arr/dep = that + 24,
    * stop3 missing (gap-fill), stop4 arr = dep@1 + 48. */
  private lazy val records = {
    import spark.implicits._
    val rows = (0 until 40).flatMap { i =>
      val d = 12 * (i % 40)
      // service days cycle Mon-Fri starting 2024-03-04
      val day = java.time.LocalDate.of(2024, 3, 4).plusDays(7 * (i / 5) + i % 5)
      val vehicle = (Date.valueOf(day), 8 * 3600)
      Seq(
        ("src", "rA", "tA1", vehicle._1, vehicle._2, 1, "s1", new Timestamp(1000L), None, Some(d)),
        ("src", "rA", "tA1", vehicle._1, vehicle._2, 2, "s2", new Timestamp(1000L), Some(d + 24), Some(d + 24)),
        ("src", "rA", "tA1", vehicle._1, vehicle._2, 4, "s4", new Timestamp(1000L), Some(d + 48), None))
    }
    val df = rows.toDF("source", "route_id", "trip_id", "trip_start_date",
      "trip_start_time", "stop_sequence", "stop_id", "time_of_recording",
      "delay_arrival", "delay_departure")
    val variants = GtfsStatic.routeVariants(schedule.trips, schedule.stopTimes)
    df.join(variants, Seq("trip_id")).cache()
  }

  private lazy val projected = DelayAnalysis.projectedRecords(records, schedule).cache()

  test("gap-fill: missing stop 3 carries stop 2's delays forward") {
    val v = projected
      .filter(col("trip_id") === "tA1" && col("stop_index") === 2)
      .select("delay_arrival", "delay_departure").collect()
    assert(v.length == 40)
    // vehicle with i=0: stop2 delay 24 carried to stop3
    val first = projected
      .filter(col("stop_index") === 2 && col("delay_arrival") === 24).count()
    assert(first == 1) // only i=0 has d=0 -> 24
  }

  test("general delay curves: grouped per stop/event/slot with >=20 gate") {
    val g = DelayAnalysis.generalDelayCurves(projected).cache()
    // tA1 08:xx weekday -> slot 3 (workdays 8-12h) and DEFAULT 12
    val slots = g.select("time_slot_id").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(slots == Set(TimeSlot.WorkdayLateMorning.id, TimeSlot.Default.id))
    // stop_index 0 has only departures (arrival never recorded, gap-fill
    // starts at the first observed value)
    val s0 = g.filter(col("stop_index") === 0).select("event_type")
      .distinct().collect().map(_.getInt(0)).toSet
    assert(s0 == Set(EventType.Departure))
    val row = g.filter(col("stop_index") === 1 &&
        col("event_type") === EventType.Arrival &&
        col("time_slot_id") === TimeSlot.Default.id)
      .collect().head
    assert(row.getAs[Int]("sample_size") == 40)
    assert(row.getAs[Int]("precision_type") == PrecisionType.SemiSpecific)
    // curve of 40 delays 24,36,...,492: matches the pure builder
    val expected = CurveBuilder.generalDelayCurve(
      (0 until 40).map(i => (12 * i + 24).toFloat)).get
    val pts = row.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("points")
      .map(r => (r.getFloat(0), r.getFloat(1)))
    assert(pts == expected.curve.points)
  }

  test("stop-pair curve sets: vehicle self-join with >20-pair gate") {
    val cs = DelayAnalysis.stopPairCurveSets(projected).cache()
    val pairs = cs.filter(col("time_slot_id") === TimeSlot.Default.id &&
        col("event_type") === EventType.Arrival)
      .select("start_stop_index", "end_stop_index").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    // starts 0..2 (dep delays exist everywhere after fill), arrivals at 1..3
    assert(pairs == Set((0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)))
    val row = cs.filter(col("start_stop_index") === 0 && col("end_stop_index") === 3 &&
        col("time_slot_id") === TimeSlot.Default.id &&
        col("event_type") === EventType.Arrival).collect().head
    assert(row.getAs[Int]("precision_type") == PrecisionType.Specific)
    // matches the pure builder on the same (start, end) pairs
    val expected = CurveBuilder.stopPairCurveSet(
      (0 until 40).map { i => val d = 12 * i; (d.toFloat, (d + 48).toFloat) }).get
    val curves = row.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("curves")
    assert(curves.length == expected.curveSet.curves.length)
    assert(row.getAs[Int]("sample_size") == expected.sampleSize)
  }

  test("default curves: cascade fills every grid cell with correct precision") {
    val d = DelayAnalysis.defaultCurves(records, schedule, schedule.routes).cache()
    // grid: the reference's 11 route types x 3 sections x 11 real slots
    // (no Default slot — default_curves.rs:136) x 2 events
    assert(d.count() == 11 * 3 * 11 * 2)
    assert(d.filter(col("time_slot_id") === TimeSlot.Default.id).count() == 0)
    val byPrecision = d.groupBy("precision_type").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // observed (Bus=3) cells are General, Bus gaps use the (route_type,
    // event) pool, all other 10 route types drop to the global SuperGeneral
    assert(byPrecision.keySet == Set(PrecisionType.General,
      PrecisionType.FallbackGeneral, PrecisionType.SuperGeneral))
    assert(byPrecision(PrecisionType.SuperGeneral) == 10 * 3 * 11 * 2)
    val general = d.filter(col("precision_type") === PrecisionType.General)
    assert(general.count() >= 4)
    // every returned curve satisfies the CDF invariants
    d.select("points").collect().foreach { r =>
      val pts = r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]](0).map(p => (p.getFloat(0), p.getFloat(1)))
      assert(pts.head._2 == 0.0f && pts.last._2 == 1.0f)
      assert(pts.sliding(2).forall(w => w(0)._1 < w(1)._1 && w(0)._2 <= w(1)._2))
    }
  }

  test("default curves: leaves come from raw records, not gap-filled rows") {
    val d = DelayAnalysis.defaultCurves(records, schedule, schedule.routes)
    // stop 3 (index 2) is never observed in the raw records; with gap-filled
    // input its forward-filled rows would inflate the leaf sample counts.
    // Raw per-cell samples: dep@s1=40, arr/dep@s2=40, arr@s4=40 — so every
    // General cell's sample_size is exactly 40
    val generalSizes = d.filter(col("precision_type") === PrecisionType.General)
      .select("sample_size").collect().map(_.getInt(0)).toSet
    assert(generalSizes == Set(40))
  }

  test("default curves: no records give an empty defaults table") {
    val none = DelayAnalysis.defaultCurves(records.limit(0), schedule, schedule.routes)
    assert(none.collect().isEmpty)
    assert(none.columns.toSeq == Seq("route_type", "route_section", "time_slot_id",
      "event_type", "precision_type", "sample_size", "points"))
  }
}
