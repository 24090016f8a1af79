package graft.predict

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.analyse.CurvePoint
import graft.curves.{Curve, CurveSet}
import graft.model.{PrecisionType, RouteSection, TimeSlot}

/** The predictor (reference `src/predictor/mod.rs:178-335` — SURVEY.md §3.3)
  * in its set-oriented form: a requests DataFrame is resolved through the
  * precision ladder as a cascade of left joins + coalesce, mass-producing
  * the `predictions` table in one job (the reference walks its in-memory
  * statistics tree per request; our ladder IS the join cascade, so Spark
  * distributes it).
  *
  * Ladder (reference `src/types/mod.rs:64-72`):
  *   Specific          — curve set hit at (variant, start, end, slot) with an
  *                       initial-delay basis
  *   FallbackSpecific  — same but only the DEFAULT time slot had a curve set
  *   SemiSpecific      — per-stop general delay curve (no basis available)
  *   General/FallbackGeneral/SuperGeneral — the default-curve table row
  *                       (its own precision_type encodes which cascade level
  *                       filled the cell).
  */
/** The interactive single-request path (reference `run_single` + `predict`,
  * `src/predictor/mod.rs:118-238`): "one trip, one stop, now" must not pay
  * a full join plan. The statistics tables are dimension-sized, so they
  * are collected ONCE into hash maps; `predict` then walks the same ladder
  * as [[Predictor.resolve]] in O(1) per request. Build via
  * [[Predictor.pointLookup]]; `graft.Graft.predictorFor` serves one
  * all-route build per statistics snapshot. */
final class PointPredictor private[predict] (
    routeTypes: Map[String, Int],
    general: Map[(String, Long, Int, Int), (Curve, Int)],
    sets: Map[(String, Long, Int, Int, Int, Int), (CurveSet, Int)],
    defaults: Map[(Int, Int, Int, Int), (Int, Int, Curve)],
    superGeneral: Option[(Int, Curve)]) {

  /** One ladder answer: a curve (every rung but one) or, for a basis
    * without an initial delay, the whole curve set (reference
    * `PredictionResult::CurveSetData`, `predictor/mod.rs:318-321`). */
  final case class PointResult(precisionType: Int, sampleSize: Int,
                               curve: Option[Curve], curveSet: Option[CurveSet])

  def predict(routeId: String, routeVariant: Long, stopIndex: Int,
              stopCount: Int, startIndex: Option[Int],
              initialDelay: Option[Int], eventType: Int,
              at: java.time.LocalDateTime): Option[PointResult] = {
    val slot = graft.model.TimeSlot.fromDateTime(at).id
    def defaultPath: Option[PointResult] = {
      val section = RouteSection.byStopIndex(stopIndex, stopCount)
      routeTypes.get(routeId)
        .flatMap(rt => defaults.get((rt, section, slot, eventType)))
        .map { case (prec, n, c) => PointResult(prec, n, Some(c.capPoints(120)), None) }
        .orElse(superGeneral.map { case (n, c) =>
          PointResult(PrecisionType.SuperGeneral, n, Some(c.capPoints(120)), None) })
    }
    startIndex match {
      case Some(start) =>
        def setAt(s: Int) = sets.get((routeId, routeVariant, start, stopIndex, s, eventType))
        setAt(slot).map((_, PrecisionType.Specific))
          .orElse(setAt(TimeSlot.Default.id).map((_, PrecisionType.FallbackSpecific)))
          .map { case ((cs, n), prec) =>
            initialDelay match {
              case Some(d) => PointResult(prec, n,
                Some(cs.curveAtXWithContinuation(d.toFloat).capPoints(120)), None)
              case None => PointResult(prec, n, None, Some(cs))
            }
          }
          .orElse(defaultPath) // basis + set miss -> defaults, never SemiSpecific
      case None =>
        general.get((routeId, routeVariant, stopIndex, eventType))
          .map { case (c, n) =>
            PointResult(PrecisionType.SemiSpecific, n, Some(c.capPoints(120)), None) }
          .orElse(defaultPath)
    }
  }
}

object Predictor {

  /** Interpolate a curve set at the request's initial delay (reference
    * `curve_at_x_with_continuation`, `src/predictor/mod.rs:324`) — the
    * native expression (graft.functions.CurveContinuation), not a UDF:
    * this runs once per basis-carrying prediction row, and the UDF form
    * paid a Catalyst↔Scala conversion of the whole nested curve-set array
    * per row. CurveContinuationSpec pins it bit-identical to the pure
    * `CurveSet.curveAtXWithContinuation`. */
  private def continuation(curves: Column, x: Column): Column =
    graft.functions.CurveContinuation(curves, x)

  /** C13: the reference serializes prediction curves with at most 120
    * points (`serialize_compact_limited`, `per_schedule_importer.rs:362`);
    * we cap via progressive simplification instead of a blob format —
    * native expression (graft.functions.CurveCapPoints): curves already
    * under the cap pass through without any per-row conversion, and the
    * expression's deterministic=false is the CollapseProject barrier that
    * keeps prediction_min/max from inlining the ladder chain 3x. */
  private def capPoints(curve: Column): Column =
    graft.functions.CurveCapPoints(curve, 120)

  /** Resolve requests through the full ladder.
    *
    * Expected request columns: route_id, route_variant, trip_id,
    * trip_start_date, trip_start_time, stop_sequence, stop_index,
    * stop_count, stop_id, event_type, event_instant (timestamp), plus
    * nullable start_index / initial_delay (the prediction basis).
    *
    * Curve tables are the outputs of `DelayAnalysis`; `routes` supplies
    * route_type for the default path.
    */
  def resolve(requests: DataFrame, generalCurves: DataFrame, curveSets: DataFrame,
              defaultCurves: DataFrame, routes: DataFrame): DataFrame = {
    val slotCol = TimeSlot.slotIdColumn(col("event_instant"))

    def csSide(suffix: String) = curveSets.select(
      col("route_id").as(s"rid$suffix"), col("route_variant").as(s"rv$suffix"),
      col("start_stop_index").as(s"sidx$suffix"),
      col("end_stop_index").as(s"eidx$suffix"),
      col("time_slot_id").as(s"slot$suffix"), col("event_type").as(s"et$suffix"),
      col("curves").as(s"curves$suffix"), col("sample_size").as(s"n$suffix"))

    def csJoinKey(suffix: String): Column =
      col(s"rid$suffix") === col("route_id") &&
        col(s"rv$suffix") === col("route_variant") &&
        col(s"sidx$suffix") === col("start_index") &&
        col(s"eidx$suffix") === col("stop_index") &&
        col(s"et$suffix") === col("event_type")

    val gen = generalCurves
      .filter(col("time_slot_id") === TimeSlot.Default.id)
      .select(col("route_id"), col("route_variant"), col("stop_index"),
        col("event_type"), col("points").as("gen_points"),
        col("sample_size").as("gen_n"))

    val dflt = defaultCurves.select(
      col("route_type"), col("route_section"), col("time_slot_id").as("d_slot"),
      col("event_type"), col("points").as("d_points"),
      col("sample_size").as("d_n"), col("precision_type").as("d_precision"))

    // SuperGeneral terminal fallback for route types outside the default
    // grid (the reference folds extended GTFS codes into its 11-type enum
    // at parse time; our schema keeps raw ints, so an exotic code could
    // otherwise miss every grid row). Single broadcast row;
    // empty when the cascade filled every cell, in which case unmatched
    // route types fail exactly like the reference's `predict_default` bail.
    val sg = defaultCurves
      .filter(col("precision_type") === lit(PrecisionType.SuperGeneral))
      .limit(1)
      .select(col("points").as("sg_points"), col("sample_size").as("sg_n"))

    val withSlot = requests
      .withColumn("time_slot_id", slotCol)
      .withColumn("route_section",
        RouteSection.sectionColumn(col("stop_index"), col("stop_count")))
      .join(broadcast(routes.select(col("route_id"), col("route_type"))),
        Seq("route_id"), "left")

    // The basis is start_index alone; initial_delay may be null within a
    // basis (reference `PredictionBasis { stop_sequence, delay_departure:
    // Option }`, `predictor/mod.rs:137-141`).
    val hasBasis = col("start_index").isNotNull
    val hasDelay = col("initial_delay").isNotNull

    val resolved = withSlot
      // Specific: exact slot curve set (only consulted with a basis)
      .join(csSide("1"), csJoinKey("1") && col("slot1") === col("time_slot_id"), "left")
      // FallbackSpecific: DEFAULT-slot curve set retry (`predictor/mod.rs:299-305`)
      .join(csSide("2").filter(col("slot2") === TimeSlot.Default.id),
        csJoinKey("2"), "left")
      // SemiSpecific: per-stop general curve (only consulted with NO basis —
      // with a basis and no curve set the reference bails to the default
      // path, `predictor/mod.rs:285-316`)
      .join(gen, Seq("route_id", "route_variant", "stop_index", "event_type"), "left")
      // default path: every (type, section, slot, event) cell exists via the cascade
      .join(broadcast(dflt.withColumnRenamed("route_type", "d_rt")
          .withColumnRenamed("route_section", "d_sec")
          .withColumnRenamed("event_type", "d_et")),
        col("d_rt") === col("route_type") && col("d_sec") === col("route_section") &&
          col("d_slot") === col("time_slot_id") && col("d_et") === col("event_type"),
        "left")
      .join(broadcast(sg), lit(true), "left")

    val setHit = hasBasis && (col("curves1").isNotNull || col("curves2").isNotNull)
    val specificCurve = when(hasBasis && hasDelay && col("curves1").isNotNull,
      continuation(col("curves1"), col("initial_delay").cast("float")))
    val fallbackCurve = when(hasBasis && hasDelay && col("curves2").isNotNull,
      continuation(col("curves2"), col("initial_delay").cast("float")))
    val genCurve = when(!hasBasis, col("gen_points"))

    resolved.select(
      col("route_id"), col("route_variant"), col("trip_id"),
      col("trip_start_date"), col("trip_start_time"),
      col("stop_sequence"), col("stop_id"), col("event_type"),
      col("event_instant"), col("time_slot_id"),
      // basis without initial delay on a curve-set hit returns the whole
      // set, not a single curve (reference `predictor/mod.rs:318-321`)
      when(setHit && !hasDelay, coalesce(col("curves1"), col("curves2")))
        .as("prediction_curve_set"),
      when(!(setHit && !hasDelay),
        coalesce(specificCurve, fallbackCurve, genCurve, col("d_points"),
          col("sg_points"))).as("prediction_curve"),
      when(hasBasis && col("curves1").isNotNull, lit(PrecisionType.Specific))
        .when(hasBasis && col("curves2").isNotNull, lit(PrecisionType.FallbackSpecific))
        .when(!hasBasis && col("gen_points").isNotNull, lit(PrecisionType.SemiSpecific))
        .otherwise(coalesce(col("d_precision"),
          when(col("sg_points").isNotNull, lit(PrecisionType.SuperGeneral))))
        .as("precision_type"),
      coalesce(
        when(hasBasis && col("curves1").isNotNull, col("n1")),
        when(hasBasis && col("curves2").isNotNull, col("n2")),
        when(!hasBasis, col("gen_n")), col("d_n"), col("sg_n")).as("sample_size"))
      .filter(col("prediction_curve").isNotNull || col("prediction_curve_set").isNotNull)
      .withColumn("prediction_curve",
        when(col("prediction_curve").isNotNull, capPoints(col("prediction_curve"))))
      // prediction_min/max: scheduled instant shifted by the curve support
      .withColumn("prediction_min",
        timestamp_add("SECOND", element_at(col("prediction_curve"), 1)("x").cast("int"),
          col("event_instant")))
      .withColumn("prediction_max",
        timestamp_add("SECOND", element_at(col("prediction_curve"), -1)("x").cast("int"),
          col("event_instant")))
  }

  private def rowCurve(rows: scala.collection.Seq[org.apache.spark.sql.Row]): Curve =
    Curve(rows.map(p => (p.getFloat(0), p.getFloat(1))).toVector)

  /** Build the single-request lookup (reference `run_single`): collect
    * the statistics into driver-side maps. Every call runs its collects
    * (one Spark job per table). Pass `routeId` to collect only that
    * route's slices (a pruned scan of the route_id-partitioned store);
    * without it the lookup answers for every route, and for any route it
    * answers exactly as the pruned build does. The default grid is a
    * fixed 726-cell table either way.
    *
    * No memo here: `graft.Graft.predictorFor` keeps the all-route build
    * in [[graft.operators.SharedRelations]] under its snapshot rule (one
    * build per set of statistics and routes files; a rewritten file is a
    * miss and a rebuild, never a stale answer). */
  def pointLookup(generalCurves: DataFrame, curveSets: DataFrame,
                  defaultCurves: DataFrame, routes: DataFrame,
                  routeId: Option[String] = None): PointPredictor = {
    def pruned(df: DataFrame) = routeId.fold(df)(r => df.filter(col("route_id") === r))
    val gen = pruned(generalCurves)
      .filter(col("time_slot_id") === TimeSlot.Default.id)
      .select("route_id", "route_variant", "stop_index", "event_type",
        "points", "sample_size")
      .collect().map { r =>
        (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3)) ->
          ((rowCurve(r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]](4)), r.getInt(5)))
      }.toMap
    val sets = pruned(curveSets)
      .select("route_id", "route_variant", "start_stop_index", "end_stop_index",
        "time_slot_id", "event_type", "curves", "sample_size")
      .collect().map { r =>
        val cs = CurveSet(r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]](6)
          .map(fc => (fc.getFloat(0),
            rowCurve(fc.getAs[scala.collection.Seq[org.apache.spark.sql.Row]](1)))).toVector)
        (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5)) ->
          ((cs, r.getInt(7)))
      }.toMap
    val dflt = defaultCurves
      .select("route_type", "route_section", "time_slot_id", "event_type",
        "precision_type", "sample_size", "points")
      .collect().map { r =>
        (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)) ->
          ((r.getInt(4), r.getInt(5),
            rowCurve(r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]](6))))
      }.toMap
    val superRow = dflt.values
      .find(_._1 == PrecisionType.SuperGeneral).map(v => (v._2, v._3))
    val rts = pruned(routes).select("route_id", "route_type")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    new PointPredictor(rts, gen, sets, dflt, superRow)
  }
}
