package graft.predict

import graft.SparkSpec
import graft.analyse.{DelayAnalysis, StatisticsIO}
import graft.gtfs.GtfsStatic
import graft.model.{OriginType, PrecisionType}
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.{Date, Timestamp}
import java.time.LocalDate

class ScheduledPredictionsSpec extends SparkSpec {

  private lazy val schedule = GtfsStatic.read(spark, "fixtures/gtfs_tiny")

  private lazy val stats = {
    import spark.implicits._
    // same 40-run synthetic records as DelayAnalysisSpec
    val rows = (0 until 40).flatMap { i =>
      val d = 12 * (i % 40)
      val day = LocalDate.of(2024, 3, 4).plusDays(7 * (i / 5) + i % 5)
      Seq(
        ("src", "rA", "tA1", Date.valueOf(day), 8 * 3600, 1, "s1", new Timestamp(1000L), None, Some(d)),
        ("src", "rA", "tA1", Date.valueOf(day), 8 * 3600, 2, "s2", new Timestamp(1000L), Some(d + 24), Some(d + 24)),
        ("src", "rA", "tA1", Date.valueOf(day), 8 * 3600, 4, "s4", new Timestamp(1000L), Some(d + 48), None))
    }
    val records = rows.toDF("source", "route_id", "trip_id", "trip_start_date",
      "trip_start_time", "stop_sequence", "stop_id", "time_of_recording",
      "delay_arrival", "delay_departure")
      .join(GtfsStatic.routeVariants(schedule.trips, schedule.stopTimes), Seq("trip_id"))
    val dir = tempDir("stats").toString
    StatisticsIO.computeAndSave(records, schedule, dir)
  }

  test("statistics round-trip: partitioned tables load with identical contents") {
    assert(stats.general.count() > 0)
    assert(stats.curveSets.count() > 0)
    assert(stats.defaults.count() == 11 * 3 * 11 * 2)
    // partition column survives the round-trip
    assert(stats.general.select("route_id").distinct()
      .collect().map(_.getString(0)).toSet == Set("rA"))
  }

  test("scheduled predictions cover the horizon's trips at SemiSpecific or below") {
    // Fri 2024-03-15 + 2 days: Fri wk trips (tA1,tA2,tB1,tB2) + Sat we (tA3,tB2)
    val preds = ScheduledPredictions.generate(spark, schedule, stats,
      LocalDate.of(2024, 3, 15), days = 2).cache()
    assert(preds.count() > 0)
    assert(preds.select("origin_type").distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(OriginType.Schedule))
    // basis-less: nothing can be Specific/FallbackSpecific
    val precisions = preds.select("precision_type").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(!precisions.contains(PrecisionType.Specific))
    assert(!precisions.contains(PrecisionType.FallbackSpecific))
    // tA1 stops with trained curves resolve SemiSpecific
    assert(preds.filter(col("trip_id") === "tA1" &&
      col("precision_type") === PrecisionType.SemiSpecific).count() > 0)
    // trips with no records at all (rB) fall back to default curves
    assert(preds.filter(col("route_id") === "rB").count() > 0)
  }

  test("watermark resume skips already-predicted trip starts") {
    val all = ScheduledPredictions.generate(spark, schedule, stats,
      LocalDate.of(2024, 3, 15), days = 2)
    val wm = ScheduledPredictions.watermark(all)
    assert(wm.isDefined)
    val resumed = ScheduledPredictions.generate(spark, schedule, stats,
      LocalDate.of(2024, 3, 15), days = 2, resumeFrom = wm)
    assert(resumed.count() == 0) // nothing newer than the watermark
  }

  test("an empty horizon gives an empty requests relation") {
    val reqs = ScheduledPredictions.requests(spark, schedule, LocalDate.of(2024, 3, 15), 0)
    assert(reqs.collect().isEmpty)
    assert(reqs.columns.contains("event_instant"))
  }

  test("requests run one plan per horizon: Spark jobs do not grow with days") {
    // job counts are exact and host-independent; a per-day plan would
    // add jobs for every extra day of the horizon
    def jobs(days: Int): Int = jobsDuring(
      ScheduledPredictions.requests(spark, schedule, LocalDate.of(2024, 3, 15), days).collect())
    val oneDay = jobs(1)
    assert(oneDay > 0)
    assert(jobs(7) == oneDay)
  }
}
