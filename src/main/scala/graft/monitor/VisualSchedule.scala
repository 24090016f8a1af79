package graft.monitor

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.gtfs.GtfsStatic

/** S9's data layer (reference `src/analyser/visual_schedule.rs` — the
  * whole-day route diagram of scheduled vs observed stop times; the PNG
  * rendering itself is presentation and out of engine scope, SURVEY
  * §7.4.7): for one route and service date, the greedy variant cover
  * (W8) picks the stop axes, every trip is assigned to the first axis
  * containing its stop sequence (C17 sub-trip containment,
  * `visual_schedule.rs:243-277`), and each trip contributes one row per
  * stop with scheduled event seconds plus observed (delay-shifted) ones
  * where a record exists. */
object VisualSchedule {

  def data(spark: SparkSession, records: DataFrame,
           schedule: GtfsStatic.Schedule, routeId: String,
           date: java.time.LocalDate): DataFrame = {
    import spark.implicits._
    // per-route variant topology is dimension-sized: cover + containment
    // run on collected stop lists (like the reference's in-memory walk)
    val variantLists = JourneyData.variantStopLists(schedule)
      .filter(col("route_id") === routeId)
      .collect()
      .map(r => r.getLong(1) -> r.getAs[scala.collection.Seq[String]](2).toSeq)
    val cover = JourneyData.greedyVariantCover(variantLists.map(v => (v._1, v._2)))
    val axisStops = variantLists.toMap
    val assignment = variantLists.flatMap { case (variant, stops) =>
      cover.find(axis => JourneyData.isSubTrip(axisStops(axis), stops))
        .map(axis => (variant, axis))
    }.toSeq.toDF("route_variant", "axis_variant")

    val trips = GtfsStatic.tripsForDate(schedule, date)
      .filter(col("route_id") === routeId)
      .select("trip_id")
    val day = java.sql.Date.valueOf(date)
    val obs = records
      .filter(col("route_id") === routeId && col("trip_start_date") === day)
      .select(col("trip_id"), col("stop_sequence"),
        col("delay_arrival"), col("delay_departure"))
    trips
      .join(schedule.tripStops, Seq("trip_id"))
      .join(broadcast(assignment), Seq("route_variant"))
      .join(obs, Seq("trip_id", "stop_sequence"), "left")
      .select(col("axis_variant"), col("route_variant"), col("trip_id"),
        col("stop_index"), col("stop_id"),
        col("arrival_secs"), col("departure_secs"),
        (col("arrival_secs") + col("delay_arrival")).as("actual_arrival_secs"),
        (col("departure_secs") + col("delay_departure")).as("actual_departure_secs"))
      .orderBy(col("axis_variant"), col("trip_id"), col("stop_index"))
  }
}
