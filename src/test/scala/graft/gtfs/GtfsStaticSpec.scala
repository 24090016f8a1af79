package graft.gtfs

import graft.SparkSpec
import java.time.LocalDate

class GtfsStaticSpec extends SparkSpec {

  private lazy val schedule = GtfsStatic.read(spark, "fixtures/gtfs_tiny")

  test("reads all core tables with explicit schemas") {
    assert(schedule.stops.count() == 8)
    assert(schedule.routes.count() == 2)
    assert(schedule.trips.count() == 5)
    assert(schedule.stopTimes.count() == 17)
    assert(schedule.calendar.count() == 3)
    assert(schedule.calendarDates.count() == 2)
  }

  test("optional tables load through a file: URI") {
    val uri = java.nio.file.Paths.get("fixtures/gtfs_tiny").toAbsolutePath.toUri.toString
    val s = GtfsStatic.read(spark, uri.stripSuffix("/"))
    assert(s.calendar.count() == 3)
    assert(s.calendarDates.count() == 2)
  }

  test("route_variant: same stop sequence -> same id; sub-sequence -> different") {
    val v = schedule.tripsWithVariant
      .select("trip_id", "route_variant").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v("tA1") == v("tA2")) // identical s1..s4 sequence
    assert(v("tA1") != v("tA3")) // tA3 is the short variant s1..s3
    assert(v("tB1") == v("tB2")) // same stops despite different times
    // variants are route-scoped: rA's full run and rB share no id
    assert(v("tA1") != v("tB1"))
    assert(v.values.forall(_ >= 0L))
  }

  test("route_variant: concatenation-ambiguous stop ids get distinct variants") {
    import spark.implicits._
    // ["ab","c"] vs ["a","bc"] concatenate to the same string; the JSON-
    // array variant key must keep them apart
    val trips = Seq(("t1", "r1"), ("t2", "r1")).toDF("trip_id", "route_id")
    val stopTimes = Seq(
      ("t1", 1, "ab"), ("t1", 2, "c"),
      ("t2", 1, "a"), ("t2", 2, "bc"))
      .toDF("trip_id", "stop_sequence", "stop_id")
    val v = GtfsStatic.routeVariants(trips, stopTimes)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v("t1") != v("t2"))
  }

  test("route_variant derivation is deterministic across invocations") {
    val a = GtfsStatic.routeVariants(schedule.trips, schedule.stopTimes)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = GtfsStatic.routeVariants(schedule.trips, schedule.stopTimes)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("tripsForDate honours weekday bits and date range") {
    // 2024-03-15 is a Friday: services wk + all
    val friday = GtfsStatic.tripsForDate(schedule, LocalDate.of(2024, 3, 15))
      .select("trip_id").collect().map(_.getString(0)).toSet
    assert(friday == Set("tA1", "tA2", "tB1", "tB2"))
    // 2024-03-16 is a Saturday: services we + all
    val saturday = GtfsStatic.tripsForDate(schedule, LocalDate.of(2024, 3, 16))
      .select("trip_id").collect().map(_.getString(0)).toSet
    assert(saturday == Set("tA3", "tB2"))
  }

  test("tripsForDate honours calendar_dates exceptions") {
    // 2024-03-18 is a Monday, but wk is removed and we added that day
    val mon = GtfsStatic.tripsForDate(schedule, LocalDate.of(2024, 3, 18))
      .select("trip_id").collect().map(_.getString(0)).toSet
    assert(mon == Set("tA3", "tB2"))
    // out of calendar range entirely
    val out = GtfsStatic.tripsForDate(schedule, LocalDate.of(2025, 3, 17))
      .select("trip_id").collect()
    assert(out.isEmpty)
  }

  test("serviceDays over a horizon equals the union of its single days") {
    import org.apache.spark.sql.functions._
    // the fixture's `we` service ends on Sunday 2024-03-17 here, so the
    // horizon Thu 14 .. Wed 20 crosses a calendar.txt end date, the
    // weekday/weekend boundary both ways, and Mon 18's two exceptions
    // (wk removed, we added — after we's end date)
    val cut = schedule.copy(calendar = schedule.calendar.withColumn("end_date",
      when(col("service_id") === "we", lit("20240317")).otherwise(col("end_date"))))
    val from = LocalDate.of(2024, 3, 14)
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select(col("service_id"), col("service_date").cast("string"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val horizon = pairs(GtfsStatic.serviceDays(cut, from, 7))
    val perDay = (0 until 7).flatMap(i => pairs(GtfsStatic.serviceDays(cut, from.plusDays(i), 1))).toSet
    assert(horizon == perDay)
    val byDay = horizon.groupMap(_._2)(_._1)
    assert(byDay("2024-03-15") == Set("wk", "all"))
    assert(byDay("2024-03-16") == Set("we", "all"))
    assert(byDay("2024-03-18") == Set("we", "all"))
    assert(byDay("2024-03-19") == Set("wk", "all"))
    assert(horizon.size == 14)
    assert(GtfsStatic.serviceDays(cut, from, 0).collect().isEmpty)
    // the unmodified fixture's own end date: every service ends 2024-12-31
    val yearEnd = LocalDate.of(2024, 12, 30)
    val lastDays = pairs(GtfsStatic.serviceDays(schedule, yearEnd, 3))
    assert(lastDays == (0 until 3).flatMap(i =>
      pairs(GtfsStatic.serviceDays(schedule, yearEnd.plusDays(i), 1))).toSet)
    assert(lastDays == Set(("wk", "2024-12-30"), ("all", "2024-12-30"),
      ("wk", "2024-12-31"), ("all", "2024-12-31")))
  }
}
