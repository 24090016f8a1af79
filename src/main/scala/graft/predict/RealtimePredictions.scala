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

  /** The STATIC side of the realtime prediction path, materialized once
    * and reused across micro-batches, so no batch rebuilds the
    * schedule-derived relations (tripsWithVariant's stop-walk aggregation
    * among them) or re-plans the statistics joins. All members are
    * persisted and eagerly materialized by [[buildContext]]; re-broadcasting
    * per batch then serializes memory blocks instead of recomputing plans.
    * A statistics refresh invalidates the whole context: call
    * [[Context.invalidate]] and build a fresh one (the reference's
    * importer likewise reloads its statistics snapshot wholesale,
    * `src/importer/mod.rs`). */
  final case class Context(stops: DataFrame, trips: DataFrame,
                           general: DataFrame, curveSets: DataFrame,
                           defaults: DataFrame, routes: DataFrame) {
    /** Unpersist every cached member (after the queries consuming this
      * context have stopped, or once a refreshed context replaces it). */
    def invalidate(): Unit =
      Seq(stops, trips, general, curveSets, defaults, routes)
        .foreach { df => df.unpersist(); () }
  }

  /** Build and eagerly materialize a [[Context]]. */
  def buildContext(schedule: GtfsStatic.Schedule,
                   stats: graft.analyse.StatisticsIO.Statistics): Context = {
    def mat(df: DataFrame): DataFrame = {
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      p.count()
      p
    }
    Context(
      mat(graft.analyse.DelayAnalysis.scheduleStops(schedule)),
      mat(schedule.tripsWithVariant
        .select("trip_id", "route_id", "route_variant")),
      mat(stats.general), mat(stats.curveSets), mat(stats.defaults),
      mat(schedule.routes))
  }

  /** `work`: PredictionWork rows (trip_id, trip_start_date "yyyyMMdd",
    * trip_start_time "H:MM:SS", route_id, basis_stop_sequence, basis_delay,
    * time_of_recording). `now` gates trips started more than 12 h ago
    * (F10, reference `per_schedule_importer.rs:250-253`). One-shot form:
    * derives the static relations in-plan; the automatic mode uses the
    * [[Context]] overload instead. */
  def fromWork(work: DataFrame, schedule: GtfsStatic.Schedule,
               stats: graft.analyse.StatisticsIO.Statistics,
               now: java.sql.Timestamp): DataFrame =
    fromWork(work,
      Context(graft.analyse.DelayAnalysis.scheduleStops(schedule),
        schedule.tripsWithVariant
          .select("trip_id", "route_id", "route_variant"),
        stats.general, stats.curveSets, stats.defaults, schedule.routes),
      now)

  /** [[fromWork]] against a prebuilt [[Context]] — the per-micro-batch
    * entry point. */
  def fromWork(work: DataFrame, ctx: Context,
               now: java.sql.Timestamp): DataFrame = {
    val stops = ctx.stops
    // route_id comes from the SCHEDULE trip, not the feed: GTFS-RT trip
    // descriptors may omit it (the reference likewise resolves the trip via
    // the schedule before predicting, `predictor/mod.rs:191-196`)
    val trips = ctx.trips
    val base = work
      .drop("route_id")
      .withColumn("trip_start_date", to_date(col("trip_start_date"), "yyyyMMdd"))
      .withColumn("trip_start_time",
        GtfsTime.timeToSecondsColumn(col("trip_start_time")))
      // F10: trips that started >12h before `now` get no predictions
      .filter(GtfsTime.instantColumn(col("trip_start_date"), col("trip_start_time"))
        >= timestamp_add("HOUR", lit(-12), lit(now)))
      .join(broadcast(trips), Seq("trip_id"))
    // basis stop_sequence -> dense stop_index
    val basisIdx = stops.select(col("trip_id"),
      col("stop_sequence").as("basis_stop_sequence"),
      col("stop_index").as("start_index"))
    val withBasis = base.join(broadcast(basisIdx),
      Seq("trip_id", "basis_stop_sequence"))
    // fan out to all later stops x both event types
    val later = withBasis.join(stops, Seq("trip_id"))
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
    Predictor.resolve(requests, ctx.general, ctx.curveSets, ctx.defaults,
      ctx.routes)
      // a basis without a departure delay can resolve to a whole curve SET;
      // the reference importer only stores single curves and bails on
      // CurveSetData (`per_schedule_importer.rs:338-341`) — drop set rows
      .filter(col("prediction_curve").isNotNull)
      .withColumn("origin_type", lit(OriginType.Realtime))
  }
}
