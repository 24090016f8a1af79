package graft.monitor

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.gtfs.GtfsStatic

/** Journey-page lookups (reference `src/monitor/journey_data.rs` and
  * visual-schedule helpers — SURVEY.md J8, F12, W8, C17). */
object JourneyData {

  /** F12: stop-name autocomplete — every lowercase term contained in the
    * name, first 10 by name (reference `src/monitor/mod.rs:198-215`). */
  def searchStops(stops: DataFrame, query: String, limit: Int = 10): DataFrame = {
    val terms = query.toLowerCase.split("\\s+").filter(_.nonEmpty)
    val pred = terms.map(t => lower(col("stop_name")).contains(t))
      .reduceOption(_ && _).getOrElse(lit(true))
    stops.filter(pred)
      .select("stop_id", "stop_name")
      .orderBy("stop_name").limit(limit)
  }

  /** J8: resolve a trip from journey-link attributes — (headsign, route
    * short name, route type, departure time at a named stop, service date
    * within ±1 day) (reference `src/monitor/journey_data.rs:382-473`).
    * The ±1-day widening handles trips whose >24h stop times put the
    * service day before the calendar date. */
  def resolveTrip(spark: SparkSession, schedule: GtfsStatic.Schedule,
                  headsign: String, routeShortName: String, routeType: Int,
                  stopId: String, departureSecsOfDay: Int,
                  date: java.time.LocalDate): DataFrame = {
    val active = schedule.trips
      .join(broadcast(GtfsStatic.serviceDays(schedule, date.minusDays(1), 3)),
        Seq("service_id"))
      .withColumnRenamed("service_date", "service_day")
    active
      .filter(col("trip_headsign") === headsign)
      .join(broadcast(schedule.routes.filter(
        col("route_short_name") === routeShortName && col("route_type") === routeType)
        .select("route_id")), Seq("route_id"))
      .join(schedule.tripStops.filter(col("stop_id") === stopId)
        .select(col("trip_id"), col("stop_sequence"), col("departure_secs").as("dep_secs")),
        Seq("trip_id"))
      // match the absolute instant: service day + seconds may hit the target
      // with dep_secs or dep_secs±86400 on the neighbouring service day
      .filter(col("dep_secs") % 86400 === departureSecsOfDay % 86400)
      .select("trip_id", "route_id", "service_day", "stop_sequence", "dep_secs")
  }

  /** C17: is `inner` a contiguous stop-id sub-sequence of `outer`, forward
    * or reversed (reference `src/analyser/visual_schedule.rs:243-248,
    * 271-277`)? */
  def isSubTrip(outer: Seq[String], inner: Seq[String]): Boolean = {
    def contains(o: Seq[String], i: Seq[String]) =
      i.nonEmpty && o.sliding(i.length).contains(i)
    contains(outer, inner) || contains(outer.reverse, inner)
  }

  /** W8: the visual-schedule greedy cover — variants sorted by stop-count
    * descending, each next variant kept only if NOT a sub-trip of an
    * already-kept one (reference `src/analyser/visual_schedule.rs:212-267`).
    * Variant lists are per-route and tiny: runs on collected rows. */
  def greedyVariantCover(variants: Seq[(Long, Seq[String])]): Seq[Long] = {
    val sorted = variants.sortBy { case (id, stops) => (-stops.length, id) }
    val kept = scala.collection.mutable.ArrayBuffer[(Long, Seq[String])]()
    sorted.foreach { case (id, stops) =>
      if (!kept.exists { case (_, ks) => isSubTrip(ks, stops) })
        kept += ((id, stops))
    }
    kept.map(_._1).toSeq
  }

  /** Multi-leg journey chaining (reference `src/monitor/journey_data.rs:
    * 60-235,255-475`): components alternate Stop → (Trip|Walk) → Stop …;
    * each boarding multiplies the journey probability by the transfer
    * probability between the current position curve and the leg's departure
    * curve; alighting replaces the position curve with the leg's arrival
    * curve; a walk convolves the position curve with the synthesized
    * walk-duration curve and never loses probability
    * (`journey_data.rs:309-310`).
    *
    * Curves stay RELATIVE, each carried with its anchor second
    * (`refSecs`) — the same f32-precision rule as
    * [[Monitor.transferProbability]]. */
  object JourneyChain {

    sealed trait Leg
    /** Board a vehicle: `departure` anchored at the scheduled departure
      * instant, `arrival` at the scheduled arrival at the alighting stop. */
    final case class Ride(departure: graft.curves.Curve, depRefSecs: Long,
                          arrival: graft.curves.Curve, arrRefSecs: Long) extends Leg
    /** Walk to a nearby stop (distance in meters). */
    final case class Walk(distanceMeters: Float) extends Leg

    /** Current position: when (curve relative to refSecs) × how likely the
      * journey is still on track (product of boarding probabilities). */
    final case class State(curve: graft.curves.Curve, refSecs: Long, probability: Float)

    /** The reference's first-stop state: flat ±30 s around the journey
      * start (`journey_data.rs:317-322`), probability 1. */
    def start(startSecs: Long): State =
      State(graft.curves.Curve(Vector((-30.0f, 0.0f), (30.0f, 1.0f))), startSecs, 1.0f)

    def step(s: State, leg: Leg): State = leg match {
      case Ride(dep, depRef, arr, arrRef) =>
        // transfer check in the departure's frame: shift our curve by the
        // (small) anchor difference, never to absolute epoch seconds
        val here = graft.curves.Curve(
          s.curve.points.map { case (x, y) => (x + (s.refSecs - depRef).toFloat, y) })
        val p = graft.curves.Curve.transferProbability(here, dep)
        State(arr, arrRef, s.probability * p)
      case Walk(meters) =>
        State(graft.curves.Curve.convolve(
          s.curve, graft.curves.CurveBuilder.walkCurve(meters)), s.refSecs, s.probability)
    }

    /** Fold a whole journey; the final state's curve is the arrival
      * distribution at the last stop, its probability the chance every
      * transfer connects. */
    def chain(startSecs: Long, legs: Seq[Leg]): State =
      legs.foldLeft(start(startSecs))(step)

    /** Assemble Ride legs from a predictions table: each (trip, vehicle,
      * board stop, alight stop) needs exactly two prediction rows
      * (departure at boarding, arrival at alighting) — a per-request
      * dimension-sized lookup, collected like the reference's per-leg
      * `get_curve_for` (`journey_data.rs:438-446`). */
    def rideFromPredictions(predictions: DataFrame, tripId: String,
                            tripStartDate: java.sql.Date,
                            boardStopSeq: Int, alightStopSeq: Int): Option[Ride] = {
      def fetch(seq: Int, et: Int): Option[(graft.curves.Curve, Long)] =
        predictions
          .filter(col("trip_id") === tripId &&
            col("trip_start_date") === tripStartDate &&
            col("stop_sequence") === seq && col("event_type") === et)
          .select("prediction_curve", "event_instant")
          .collect().headOption.map { r =>
            (graft.curves.Curve(
              r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]](0)
                .map(p => (p.getFloat(0), p.getFloat(1))).toVector),
              r.getTimestamp(1).getTime / 1000)
          }
      for {
        (dep, depRef) <- fetch(boardStopSeq, graft.model.EventType.Departure)
        (arr, arrRef) <- fetch(alightStopSeq, graft.model.EventType.Arrival)
      } yield Ride(dep, depRef, arr, arrRef)
    }
  }

  /** Per-variant ordered stop-id lists (input to W8), one shuffle. Every
    * trip of a variant has the same ordered stop ids (the variant is a
    * hash of them), so the set of (stop_index, stop_id) pairs over the
    * variant's trips is its one stop list. */
  def variantStopLists(schedule: GtfsStatic.Schedule): DataFrame =
    schedule.tripStops
      .groupBy("route_id", "route_variant")
      .agg(array_sort(collect_set(struct(col("stop_index"), col("stop_id")))).as("s"))
      .select(col("route_id"), col("route_variant"),
        transform(col("s"), _.getField("stop_id")).as("stop_ids"))
}
