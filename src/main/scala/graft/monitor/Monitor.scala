package graft.monitor

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel
import graft.curves.{Curve, CurveBuilder}
import graft.functions.Geo
import graft.model.OriginType

/** The monitor's data layer (reference `src/monitor/` — SURVEY.md §2's
  * J6/J7, F5-F8, W4, C7/C9/C10/C11): everything the departure-board and
  * journey pages compute, exposed as DataFrames; HTML/PNG rendering is
  * presentation and deliberately out of engine scope (SURVEY.md §7.4.7).
  */
object Monitor {

  private def toCurve(pts: Seq[org.apache.spark.sql.Row]): Curve =
    Curve(pts.map(p => (p.getFloat(0), p.getFloat(1))).toVector)

  /** C7: interpolated quantile over a curve column (reference `x_at_y`) —
    * the native codegen expression (graft.functions.CurveXAtY), not a UDF:
    * this runs once per prediction row in W4/C15/F5. */
  def curveQuantile(curve: Column, p: Column): Column =
    graft.functions.CurveFunctions.xAtY(curve, p)

  /** C7: CDF evaluation (reference `y_at_x`) — native expression. */
  def curveCdf(curve: Column, x: Column): Column =
    graft.functions.CurveFunctions.yAtX(curve, x)

  /** C15: the 7 fixed quantile markers stored with realtime predictions
    * (reference `src/types/prediction_result.rs:34-48`). */
  def quantileMarkers(curveCol: Column): Column = {
    val ps = Seq(0.01f, 0.05f, 0.25f, 0.5f, 0.75f, 0.95f, 0.99f)
    struct(ps.map(p => curveQuantile(curveCol, lit(p)).as(s"q${(p * 100).toInt}")): _*)
  }

  /** C10 (+C9/C11 when walking): transfer probability between an arrival
    * and a departure. Both curves stay in RELATIVE seconds anchored at the
    * arrival's scheduled instant — only the departure curve is shifted by
    * the (small) scheduled-time difference. Anchoring at absolute epoch
    * seconds would quantize the f32 curve geometry to the ~128 s ulp at
    * 1.7e9; the reference likewise converts absolute times to relative
    * before evaluating (`time_curve.rs:93-101`). With walkMeters > 0 the
    * arrival curve is first convolved with the synthesized walk-duration
    * curve (reference `src/monitor/mod.rs:1193-1212`, `time_curve.rs:18-77`,
    * `journey_data.rs:558-594`). */
  val transferProbability = udf(
    (arrival: Seq[org.apache.spark.sql.Row], arrivalRefSecs: Long,
     departure: Seq[org.apache.spark.sql.Row], departureRefSecs: Long,
     walkMeters: Float) => {
      val arr = toCurve(arrival)
      val arrWalked =
        if (walkMeters > 0f) Curve.convolve(arr, CurveBuilder.walkCurve(walkMeters))
        else arr
      val shift = (departureRefSecs - arrivalRefSecs).toFloat
      val dep0 = toCurve(departure)
      val depShifted = Curve(dep0.points.map { case (x, y) => (x + shift, y) })
      Curve.transferProbability(arrWalked, depShifted)
    })

  /** J7: stops within `radiusMeters` haversine distance of a point
    * (reference extended-stops, `src/monitor/journey_data.rs:22-23,237-263`).
    * Stops are dimension-sized: Catalyst broadcasts the filter source. */
  def extendedStops(stops: DataFrame, lat: Double, lon: Double,
                    radiusMeters: Double = 300.0): DataFrame =
    stops.filter(Geo.haversineMeters(col("stop_lat"), col("stop_lon"),
      lit(lat), lit(lon)) <= radiusMeters)

  /** The departure board query (reference `src/monitor/mod.rs:426-591`):
    *
    *  - F5: predictions overlapping [minTime, maxTime)
    *  - J6: metadata join for route_short_name / route_type / headsign
    *  - F6: drop Schedule-origin rows shadowed by a Realtime row for the
    *    same vehicle (route_id, trip_start_date, trip_start_time): a
    *    window over that vehicle key on the same windowed scan, so the
    *    predictions are read once; rows with a null origin_type are
    *    dropped, and a row with a null key column is never shadowed
    *  - F7: drop departures at a trip's final stop (and every row of a
    *    trip without stop times)
    *  - W4: sort by the median predicted departure
    *
    * F7's last stop per trip and J6's headsign and route columns come
    * from [[boardDims]]: one persisted [[graft.operators.SharedRelations]]
    * entry per snapshot of the `trips`, `stopTimes` and `routes` files,
    * so a board re-parses no schedule file and runs no aggregation over
    * stop times; a rewritten schedule file is a miss and a rebuild,
    * never a stale answer.
    *
    * `predictions` columns: stop_id, event_type, prediction_min/max
    * (timestamps), route_id, trip_id, trip_start_date, trip_start_time,
    * stop_sequence, origin_type, prediction_curve, event_instant.
    */
  def departureBoard(predictions: DataFrame, trips: DataFrame, routes: DataFrame,
                     stopTimes: DataFrame, stopIds: Seq[String],
                     minTime: java.sql.Timestamp, maxTime: java.sql.Timestamp): DataFrame = {
    val vehicleKey = Seq("route_id", "trip_start_date", "trip_start_time")
    // F5: time-window overlap
    val windowed = predictions
      .filter(col("stop_id").isin(stopIds: _*))
      .filter(col("prediction_min") < lit(maxTime) && col("prediction_max") > lit(minTime))
    // F6: a non-Realtime row is shadowed when its vehicle has a Realtime
    // row on the board; a null key column never names a vehicle
    val realtime = col("origin_type") === OriginType.Realtime
    val shadowed = vehicleKey.map(col(_).isNotNull).reduce(_ && _) &&
      coalesce(max(realtime).over(Window.partitionBy(vehicleKey.map(col): _*)), lit(false))
    val deduped = windowed
      .withColumn("shadowed", shadowed)
      .filter(realtime || (col("origin_type").isNotNull && !col("shadowed")))
      .drop("shadowed")
    val (tripDims, routeDims) = boardDims(trips, routes, stopTimes)
    // F7: final stops never "depart"; J6: headsign and route metadata
    val enriched = deduped
      .join(broadcast(tripDims), Seq("trip_id"))
      .filter(col("stop_sequence") =!= col("last_seq"))
      .drop("last_seq")
      .join(broadcast(routeDims), Seq("route_id"), "left")
    // W4: order by median predicted time = scheduled instant + median
    // delay. A board is display-sized, so it is sorted in one partition:
    // no range-partitioning exchange (a sampling job and a shuffle)
    enriched.coalesce(1)
      .withColumn("median_delay", curveQuantile(col("prediction_curve"), lit(0.5f)))
      .withColumn("median_time", timestamp_add("SECOND",
        col("median_delay").cast("int"), col("event_instant")))
      .orderBy(col("median_time"), col("trip_id"))
  }

  /** The board's schedule dimensions, persisted once per snapshot of
    * the three inputs' files:
    *  - per trip with stop times: `trip_id`, `last_seq` (the stop_sequence
    *    of its last stop in [[graft.gtfs.GtfsStatic.tripStops]]) and
    *    `trip_headsign`, one row per trip (a null headsign when it has
    *    none), so an inner join on trip_id keeps exactly the rows of F7's
    *    left join plus J6's headsign join;
    *  - per route: `route_id`, `route_short_name`, `route_type`. */
  private def boardDims(trips: DataFrame, routes: DataFrame,
                        stopTimes: DataFrame): (DataFrame, DataFrame) = {
    val stops = graft.gtfs.GtfsStatic.tripStops(trips, stopTimes)
    val Seq(tripDims, routeDims) = graft.operators.SharedRelations.group(
        "boarddims", Seq(trips, stopTimes, routes), 0, 0) {
      val lastStops = stops.filter(col("stop_index") === col("stop_count") - 1)
        .select(col("trip_id"), col("stop_sequence").as("last_seq"))
      Seq(lastStops.join(trips.select(col("trip_id"), col("trip_headsign")),
          Seq("trip_id"), "left"),
        routes.select(col("route_id"), col("route_short_name"), col("route_type")))
        .map(_.persist(StorageLevel.MEMORY_AND_DISK))
    }
    (tripDims, routeDims)
  }

  /** Journey-transfer scoring (reference `src/monitor/mod.rs:855-884`):
    * pair arrival predictions at one stop with departure predictions at a
    * connecting stop, compute walk-aware transfer probabilities, drop
    * connections under the 5% floor (F8). Arrival/departure frames carry
    * (trip_id, stop_id, event_instant, prediction_curve).
    *
    * CONTRACT: this is the single-board shape — a cross join, matching the
    * reference's per-stop in-memory loop over ONE board's arrivals ×
    * departures. It is correct only when both inputs are already filtered
    * to one stop pair's rows; as a fleet-scale operator use
    * [[transfersBanded]], which keys the pairing by connecting stop and a
    * time band. */
  def transfers(arrivals: DataFrame, departures: DataFrame,
                walkMeters: Double, minProbability: Double = 0.05): DataFrame = {
    val a = arrivals.select(col("trip_id").as("arrival_trip"),
      col("stop_id").as("arrival_stop"),
      unix_timestamp(col("event_instant")).as("arr_ref"),
      col("prediction_curve").as("arr_curve"))
    val d = departures.select(col("trip_id").as("departure_trip"),
      col("stop_id").as("departure_stop"),
      unix_timestamp(col("event_instant")).as("dep_ref"),
      col("prediction_curve").as("dep_curve"))
    a.crossJoin(d)
      .filter(col("arrival_trip") =!= col("departure_trip"))
      .withColumn("transfer_probability",
        transferProbability(col("arr_curve"), col("arr_ref"),
          col("dep_curve"), col("dep_ref"), lit(walkMeters.toFloat)))
      .filter(col("transfer_probability") >= minProbability)
      .select(col("arrival_trip"), col("arrival_stop"),
        col("departure_trip"), col("departure_stop"),
        col("transfer_probability"))
  }

  /** Fleet-scale transfer scoring: the same probability math as
    * [[transfers]], but the arrival × departure pairing is KEYED — an
    * equi-join through the walkable stop-pair relation plus a time band —
    * so Spark shuffles by stop instead of building a cartesian product.
    *
    *  - `stopPairs(arrival_stop, departure_stop, walk_meters)`: the
    *    walkable-connection graph (dimension-sized → broadcast), e.g.
    *    derived from [[extendedStops]] per stop.
    *  - band: departures with `dep_ref` in
    *    `[arr_ref - slackSecs, arr_ref + slackSecs + horizonSecs]`.
    *    Prediction curves carry at most ±3000 s of delay uncertainty (F2
    *    threshold), so with the default slack of 2×3000 s any pair outside
    *    the band has a transfer probability saturated at exactly 0 or 1 —
    *    there is no uncertainty left to score; `horizonSecs` is the
    *    look-ahead a board actually serves (reference bound: one stop's
    *    prediction window, `src/monitor/mod.rs:855-884`).
    *
    * Within the band this returns exactly what [[transfers]] returns for
    * each stop pair (MonitorSpec pins the equality). */
  def transfersBanded(arrivals: DataFrame, departures: DataFrame,
                      stopPairs: DataFrame, horizonSecs: Long = 3600,
                      slackSecs: Long = 6000,
                      minProbability: Double = 0.05): DataFrame = {
    val a = arrivals.select(col("trip_id").as("arrival_trip"),
      col("stop_id").as("arrival_stop"),
      unix_timestamp(col("event_instant")).as("arr_ref"),
      col("prediction_curve").as("arr_curve"))
    val d = departures.select(col("trip_id").as("departure_trip"),
      col("stop_id").as("departure_stop"),
      unix_timestamp(col("event_instant")).as("dep_ref"),
      col("prediction_curve").as("dep_curve"))
    a.join(broadcast(stopPairs), Seq("arrival_stop"))
      .join(d, Seq("departure_stop")) // equi-key: the connecting stop
      .filter(col("dep_ref") >= col("arr_ref") - lit(slackSecs) &&
        col("dep_ref") <= col("arr_ref") + lit(slackSecs + horizonSecs))
      .filter(col("arrival_trip") =!= col("departure_trip"))
      .withColumn("transfer_probability",
        transferProbability(col("arr_curve"), col("arr_ref"),
          col("dep_curve"), col("dep_ref"),
          col("walk_meters").cast("float")))
      .filter(col("transfer_probability") >= minProbability)
      .select(col("arrival_trip"), col("arrival_stop"),
        col("departure_trip"), col("departure_stop"),
        col("transfer_probability"))
  }
}
