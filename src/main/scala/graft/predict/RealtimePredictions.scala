package graft.predict

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.gtfs.GtfsStatic
import graft.model.{EventType, GtfsTime, OriginType}

/** Realtime-basis predictions (reference §3.1 step 7,
  * `per_schedule_importer.rs:266-366`): whenever a vehicle's prediction
  * basis changes (RtStream.dedupPredictionWork emits a work item), predict
  * every LATER stop of that trip for both event types, carrying the basis
  * (start stop index, departure delay) into the ladder — these resolve
  * Specific/FallbackSpecific where stop-pair curve sets exist. */
object RealtimePredictions {

  /** `work`: PredictionWork rows (trip_id, trip_start_date "yyyyMMdd",
    * trip_start_time "H:MM:SS", route_id, basis_stop_sequence, basis_delay,
    * time_of_recording). `now` gates trips started more than 12 h ago
    * (F10, reference `per_schedule_importer.rs:250-253`).
    *
    * The static side is served from the memo, so a caller per micro-batch
    * rebuilds nothing: the schedule's stop lists are its
    * [[GtfsStatic.tripStops]] entry, and the statistics tables plus
    * `routes` are one persisted `rtstats` group per snapshot of their
    * files. A statistics refresh (`analyse` into the same directory, then
    * `StatisticsIO.load`) is a miss and a rebuild, never stale curves. */
  def fromWork(work: DataFrame, schedule: GtfsStatic.Schedule,
               stats: graft.analyse.StatisticsIO.Statistics,
               now: java.sql.Timestamp): DataFrame = {
    val static = Seq(stats.general, stats.curveSets, stats.defaults, schedule.routes)
    val Seq(general, curveSets, defaults, routes) =
      graft.operators.SharedRelations.group("rtstats", static, 0, 0)(
        static.map(_.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)))
    val stops = schedule.tripStops
    // route_id comes from the SCHEDULE trip, not the feed: GTFS-RT trip
    // descriptors may omit it (the reference likewise resolves the trip via
    // the schedule before predicting, `predictor/mod.rs:191-196`); the
    // basis stop_sequence maps to its dense stop_index
    val basis = stops.select(col("trip_id"), col("route_id"), col("route_variant"),
      col("stop_sequence").as("basis_stop_sequence"),
      col("stop_index").as("start_index"))
    val withBasis = work
      .drop("route_id")
      .withColumn("trip_start_date", to_date(col("trip_start_date"), "yyyyMMdd"))
      .withColumn("trip_start_time",
        GtfsTime.timeToSecondsColumn(col("trip_start_time")))
      // F10: trips that started >12h before `now` get no predictions
      .filter(GtfsTime.instantColumn(col("trip_start_date"), col("trip_start_time"))
        >= timestamp_add("HOUR", lit(-12), lit(now)))
      .join(broadcast(basis), Seq("trip_id", "basis_stop_sequence"))
    // fan out to all later stops x both event types
    val later = withBasis.join(stops.select(col("trip_id"), col("stop_sequence"),
        col("stop_id"), col("stop_index"), col("stop_count"),
        col("arrival_secs"), col("departure_secs")), Seq("trip_id"))
      .filter(col("stop_index") > col("start_index"))
    val events = Seq(
      (EventType.Arrival, "arrival_secs"),
      (EventType.Departure, "departure_secs")).map { case (et, secsCol) =>
      later.select(
        col("route_id"), col("route_variant"), col("trip_id"),
        col("trip_start_date"), col("trip_start_time"),
        col("stop_sequence"), col("stop_index"), col("stop_count"), col("stop_id"),
        lit(et).as("event_type"),
        GtfsTime.instantColumn(col("trip_start_date"), col(secsCol)).as("event_instant"),
        col("start_index"),
        col("basis_delay").as("initial_delay"))
    }
    val requests = events.reduce(_ unionByName _)
    Predictor.resolve(requests, general, curveSets, defaults, routes)
      // a basis without a departure delay can resolve to a whole curve SET;
      // the reference importer only stores single curves and bails on
      // CurveSetData (`per_schedule_importer.rs:338-341`) — drop set rows
      .filter(col("prediction_curve").isNotNull)
      .withColumn("origin_type", lit(OriginType.Realtime))
  }
}
