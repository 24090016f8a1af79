package graft.predict

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.gtfs.GtfsStatic
import graft.model.{EventType, GtfsTime, OriginType}
import java.time.LocalDate

/** Schedule-based predictions (reference
  * `src/importer/scheduled_predictions_importer.rs` — §2.8 "forward fill of
  * predictions"): for every trip running in the horizon, emit a basis-less
  * prediction request per (stop, event type), resolve through the ladder
  * (these land at SemiSpecific or below), and upsert keyed like records.
  *
  * The reference trickles this out in >=6-min / >=1000-trip batches against
  * MySQL; here the whole horizon is ONE plan: trips join the horizon's
  * (service_id, service_date) relation ([[GtfsStatic.serviceDays]]) once,
  * so the number of Spark jobs does not grow with the number of days. The
  * A12 watermark (`:304-336` — resume from the latest Schedule-origin
  * prediction) becomes a simple max() + filter.
  */
object ScheduledPredictions {

  /** Build basis-less requests for all trips active on [from, from+days).
    * One request row per (trip, service day, stop, event type); an empty
    * horizon (`days <= 0`) gives an empty relation. */
  def requests(spark: SparkSession, schedule: GtfsStatic.Schedule,
               from: LocalDate, days: Int): DataFrame = {
    val stops = graft.analyse.DelayAnalysis.scheduleStops(schedule)
    val trips = schedule.trips
      .join(broadcast(GtfsStatic.serviceDays(schedule, from, days)), Seq("service_id"))
      .withColumnRenamed("service_date", "trip_start_date")
      .join(schedule.tripsWithVariant.select("trip_id", "route_variant"), Seq("trip_id"))
    // ONE vehicle identity per trip run: trip_start_time is the first stop's
    // scheduled DEPARTURE for both event branches (the GTFS-RT trip
    // descriptor's start_time). Deriving it per event type would give a
    // vehicle two identities whenever the first stop has dwell, breaking the
    // F6 realtime-shadow dedup and the A12 watermark (ADVICE r1).
    val withStops = trips.join(stops, Seq("trip_id"))
      .withColumn("trip_start_time",
        first(col("departure_secs")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("trip_id"), col("trip_start_date"))
          .orderBy(col("stop_index"))))
    val events = Seq(
      (EventType.Arrival, "arrival_secs"),
      (EventType.Departure, "departure_secs")).map { case (et, secsCol) =>
      withStops.select(
        col("route_id"), col("route_variant"), col("trip_id"),
        col("trip_start_date"), col("trip_start_time"),
        col("stop_sequence"), col("stop_index"), col("stop_count"), col("stop_id"),
        lit(et).as("event_type"),
        GtfsTime.instantColumn(col("trip_start_date"), col(secsCol)).as("event_instant"))
    }
    events.reduce(_ unionByName _)
      .withColumn("start_index", lit(null).cast("int"))
      .withColumn("initial_delay", lit(null).cast("int"))
  }

  /** A12: the resume watermark — latest (start date+time) among existing
    * Schedule-origin predictions (reference `:304-336`). */
  def watermark(existing: DataFrame): Option[java.sql.Timestamp] = {
    val rows = existing
      .filter(col("origin_type") === OriginType.Schedule)
      .agg(max(GtfsTime.instantColumn(col("trip_start_date"), col("trip_start_time"))))
      .collect()
    Option(rows.head.getTimestamp(0))
  }

  /** Full scheduled-prediction pass: requests → ladder → Schedule-origin
    * prediction rows (skipping anything at or before the watermark). */
  def generate(spark: SparkSession, schedule: GtfsStatic.Schedule,
               stats: graft.analyse.StatisticsIO.Statistics,
               from: LocalDate, days: Int,
               resumeFrom: Option[java.sql.Timestamp] = None): DataFrame = {
    val reqs = resumeFrom match {
      case Some(wm) => requests(spark, schedule, from, days)
        .filter(GtfsTime.instantColumn(col("trip_start_date"), col("trip_start_time")) > lit(wm))
      case None => requests(spark, schedule, from, days)
    }
    Predictor.resolve(reqs, stats.general, stats.curveSets, stats.defaults,
      schedule.routes)
      .withColumn("origin_type", lit(OriginType.Schedule))
  }
}
