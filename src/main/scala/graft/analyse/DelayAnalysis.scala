package graft.analyse

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.curves.{Curve, CurveBuilder}
import graft.model.{EventType, GtfsTime, PrecisionType, RouteSection, TimeSlot}
import graft.gtfs.GtfsStatic

/** Curve rows as stored in the normalized statistics tables (FIXTURES.md §3 —
  * the relational replacement for the reference's nested `DelayStatistics`
  * tree, `src/types/types.md:1-27`). */
final case class CurvePoint(x: Float, y: Float)
final case class FocusCurve(focus: Float, points: Seq[CurvePoint])

final case class GeneralCurveRow(route_id: String, route_variant: Long,
    stop_index: Int, event_type: Int, time_slot_id: Int,
    precision_type: Int, sample_size: Int, points: Seq[CurvePoint])

final case class CurveSetRow(route_id: String, route_variant: Long,
    start_stop_index: Int, end_stop_index: Int, time_slot_id: Int,
    event_type: Int, precision_type: Int, sample_size: Int,
    curves: Seq[FocusCurve])

final case class DefaultCurveRow(route_type: Int, route_section: Int,
    time_slot_id: Int, event_type: Int, precision_type: Int,
    sample_size: Int, points: Seq[CurvePoint])

/** The `analyse` pipeline (reference `src/analyser/` — SURVEY.md §3.2),
  * re-expressed as one declarative Spark job per output table instead of the
  * reference's per-route driver loops:
  *
  *   records ⋈ schedule stop lists → gap-filled projections (W1)
  *     → groupBy (variant, stop, slot, event)         → general curves (A8)
  *     → self-join on vehicle → groupBy stop pairs    → curve sets (J3+A7)
  *   records → groupBy (route_type, section, slot, event, variant) → leaves
  *     → collected, cascaded on the driver             → default hierarchy (A9)
  *
  * Scale notes: every aggregation is keyed by (route_variant, …) so the
  * shuffle partitions by variant — the natural unit of locality; the
  * stop-pair self-join is equi-keyed on the vehicle (trip_id, start date,
  * start time) so Spark executes it as a shuffled hash join co-partitioned
  * with the upstream window, and group sizes are bounded by samples-per-
  * vehicle-per-stop-pair, never by route size. Curve construction itself is
  * group-local pure Scala (`CurveBuilder`).
  */
object DelayAnalysis {

  import org.apache.spark.sql.Encoders

  /** Per-trip scheduled stop list with dense stop_index, stop count and
    * scheduled event seconds. */
  def scheduleStops(schedule: GtfsStatic.Schedule): DataFrame = {
    val w = Window.partitionBy(col("trip_id")).orderBy(col("stop_sequence"))
    val wc = Window.partitionBy(col("trip_id"))
    schedule.stopTimes
      .withColumn("stop_index", row_number().over(w) - 1)
      .withColumn("stop_count", count(lit(1)).over(wc).cast("int"))
      .withColumn("arrival_secs", GtfsTime.timeToSecondsColumn(col("arrival_time")))
      .withColumn("departure_secs", GtfsTime.timeToSecondsColumn(col("departure_time")))
      .select("trip_id", "stop_sequence", "stop_id", "stop_index", "stop_count",
        "arrival_secs", "departure_secs")
  }

  /** W1 gap-fill (reference `compute_projections_for_route_variant`,
    * `src/analyser/specific_curves.rs:158-252`): right-join each vehicle's
    * records onto its scheduled stop list, then carry the last seen delays
    * forward with a frame-spec window. Adds the scheduled event instant and
    * its TimeSlot id per event type.
    *
    * Documented deviation: the reference's projection loop has no inner
    * break (`specific_curves.rs:204-248`), so it literally matches only the
    * FIRST item per vehicle and forward-fills its delays over every later
    * stop, discarding subsequent real observations. That contradicts the
    * function's own name/comments ("fill in the gaps"); we implement the
    * documented intent — every observation kept, only MISSING stops receive
    * the last seen delays. */
  def projectedRecords(records: DataFrame, schedule: GtfsStatic.Schedule): DataFrame = {
    val stops = scheduleStops(schedule)
    val vehicles = records
      .select("source", "route_id", "route_variant", "trip_id",
        "trip_start_date", "trip_start_time")
      .distinct()
    val grid = vehicles.join(stops, Seq("trip_id"))
    val obs = records.select(col("trip_id"), col("trip_start_date"),
      col("trip_start_time"), col("stop_sequence"),
      col("delay_arrival"), col("delay_departure"))
    val vehicleW = Window
      .partitionBy(col("trip_id"), col("trip_start_date"), col("trip_start_time"))
      .orderBy(col("stop_index"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .join(obs, Seq("trip_id", "trip_start_date", "trip_start_time", "stop_sequence"), "left")
      .withColumn("delay_arrival", last(col("delay_arrival"), ignoreNulls = true).over(vehicleW))
      .withColumn("delay_departure", last(col("delay_departure"), ignoreNulls = true).over(vehicleW))
      // service-day midnight + scheduled seconds: >24h stop times land on
      // the following day (the C4 noon-minus-12h rule degenerates to this
      // under the session's fixed UTC zone)
      .withColumn("arrival_instant",
        GtfsTime.instantColumn(col("trip_start_date"), col("arrival_secs")))
      .withColumn("departure_instant",
        GtfsTime.instantColumn(col("trip_start_date"), col("departure_secs")))
      .withColumn("arrival_slot", TimeSlot.slotIdColumn(col("arrival_instant")))
      .withColumn("departure_slot", TimeSlot.slotIdColumn(col("departure_instant")))
  }

  /** Long-format (event_type, delay, slot) view of the projections: one row
    * per event type per stop visit. Delays stay RAW — the reference's
    * `generate_delay_curve_data` (`src/analyser/specific_curves.rs:356-369`)
    * consumes unthresholded, unrounded delays; the ±3000 s threshold (F2)
    * and 12 s rounding (F3) apply only on the stop-pair path
    * (`specific_curves.rs:309-320`), which does its own filtering. */
  private def eventLong(projected: DataFrame): DataFrame = {
    val arr = projected.select(col("source"), col("route_id"), col("route_variant"),
      col("trip_id"), col("trip_start_date"), col("trip_start_time"),
      col("stop_index"), col("stop_count"),
      lit(EventType.Arrival).as("event_type"),
      col("delay_arrival").as("delay"), col("arrival_slot").as("time_slot_id"))
    val dep = projected.select(col("source"), col("route_id"), col("route_variant"),
      col("trip_id"), col("trip_start_date"), col("trip_start_time"),
      col("stop_index"), col("stop_count"),
      lit(EventType.Departure).as("event_type"),
      col("delay_departure").as("delay"), col("departure_slot").as("time_slot_id"))
    arr.unionByName(dep).filter(col("delay").isNotNull)
  }

  /** A8: general per-stop delay curves — ≥20 samples per (variant, stop,
    * event, slot), unfocused make_curve, simplify(0.01), SemiSpecific.
    *
    * Same shuffle shape as [[stopPairCurveSets]]: ONE shuffle of the
    * un-exploded event rows keyed by (variant, stop, event); per-slot and
    * Default-slot curves are built group-locally from the collected
    * (slot, delay) list instead of duplicating every row pre-shuffle. */
  def generalDelayCurves(projected: DataFrame): DataFrame = {
    // collect_list + once-per-group scalar, same rationale as the
    // stop-pair aggregation below
    // nondeterministic ON PURPOSE (it is pure): the downstream explode
    // otherwise gets the UDF expression substituted into every reference
    // by CollapseProject, running the curve build repeatedly per group
    // (same collapse-barrier trick as Predictor.capPointsUdf)
    val buildUdf = udf((rows: Seq[org.apache.spark.sql.Row]) => {
      val all = rows.map(r => (r.getInt(0), r.getFloat(1)))
      val dflt = TimeSlot.Default.id
      val groups = all.groupBy(_._1).view.filterKeys(_ != dflt).toSeq :+
        ((dflt, all ++ all.filter(_._1 == dflt)))
      groups.flatMap { case (slot, ds) =>
        CurveBuilder.generalDelayCurve(ds.map(_._2)).map { cd =>
          (slot, cd.precisionType, cd.sampleSize,
            cd.curve.points.map(p => CurvePoint(p._1, p._2)))
        }
      }
    }).asNondeterministic()
    eventLong(projected)
      .groupBy(col("route_id"), col("route_variant"), col("stop_index"),
        col("event_type"))
      .agg(collect_list(struct(col("time_slot_id"),
        col("delay").cast("float").as("delay"))).as("ds"))
      .select(col("route_id"), col("route_variant"), col("stop_index"),
        col("event_type"), explode(buildUdf(col("ds"))).as("built"))
      .select(col("route_id"), col("route_variant"), col("stop_index"),
        col("event_type"), col("built._1").as("time_slot_id"),
        col("built._2").as("precision_type"), col("built._3").as("sample_size"),
        col("built._4").as("points"))
  }

  /** J3: the exploded stop-pair rows (one row per pair per slot,
    * matched + Default) — the relationally-verifiable view of the pair
    * stream (q53: counts and exact delay sums are SQL-expressible where
    * the curve construction itself is not). */
  def stopPairRows(projected: DataFrame): DataFrame =
    stopPairRowsBase(projected)
      .withColumn("time_slot_id",
        explode(array(col("time_slot_id"), lit(TimeSlot.Default.id))))
      .select(col("route_id"), col("route_variant"), col("start_idx"),
        col("end_idx"), col("time_slot_id"), col("event_type"),
        col("start_delay"), col("end_delay"))

  /** The stop-pair self-join WITHOUT the Default-slot duplication: one
    * row per (vehicle, start, end, event) with its matched slot —
    * [[stopPairCurveSets]] shuffles THIS and splits slots group-locally,
    * halving shuffle volume vs exploding first. */
  private[graft] def stopPairRowsBase(projected: DataFrame): DataFrame = {
    val vehicleKey = Seq("route_id", "route_variant", "trip_id",
      "trip_start_date", "trip_start_time")
    val start = projected
      .filter(col("delay_departure").isNotNull &&
        abs(col("delay_departure")) < CurveBuilder.DelayThreshold)
      .select(vehicleKey.map(col) :+
        col("stop_index").as("start_idx") :+
        ((col("delay_departure") / 12).cast("int") * 12).cast("float").as("start_delay") :+
        col("departure_slot").as("time_slot_id"): _*)
    val endArr = projected
      .filter(col("delay_arrival").isNotNull &&
        abs(col("delay_arrival")) < CurveBuilder.DelayThreshold)
      .select(vehicleKey.map(col) :+ col("stop_index").as("end_idx") :+
        lit(EventType.Arrival).as("event_type") :+
        ((col("delay_arrival") / 12).cast("int") * 12).cast("float").as("end_delay"): _*)
    val endDep = projected
      .filter(col("delay_departure").isNotNull &&
        abs(col("delay_departure")) < CurveBuilder.DelayThreshold)
      .select(vehicleKey.map(col) :+ col("stop_index").as("end_idx") :+
        lit(EventType.Departure).as("event_type") :+
        ((col("delay_departure") / 12).cast("int") * 12).cast("float").as("end_delay"): _*)
    start
      .join(endArr.unionByName(endDep), vehicleKey)
      .filter(col("end_idx") > col("start_idx"))
      .select(col("route_id"), col("route_variant"), col("start_idx"),
        col("end_idx"), col("time_slot_id"), col("event_type"),
        col("start_delay"), col("end_delay"))
  }

  /** A7 (with J3): stop-pair curve sets. The self-join inside
    * [[stopPairRowsBase]] is equi-keyed on the vehicle; the theta
    * condition end > start only multiplies within a vehicle's own stop
    * list (bounded by route length, not data volume).
    *
    * Shuffle shape: ONE shuffle of the un-exploded pair rows keyed by
    * (pair, event); the per-slot split AND the Default-slot aggregate
    * happen group-locally inside the builder UDF. Exploding the Default
    * duplicate before the shuffle (the previous shape) doubled shuffle
    * volume for no information; max group size is unchanged (the Default
    * group already held every one of the pair's rows). Output is
    * identical (spec-pinned vs the exploded relation). */
  /** One stop-pair group's curve-set build over its (slot, start_delay,
    * end_delay) rows: per matched slot, plus Default over every row; rows
    * whose MATCHED slot is the Default id (dead in practice — the
    * taxonomy covers all 168 hours) land twice in the Default group,
    * exactly as the exploded relation would put them. Shared by the batch
    * aggregate below and [[graft.streaming.CurveStream]]'s incremental
    * twin — one body, so the two paths cannot drift. Input ORDER is
    * irrelevant: [[CurveBuilder.stopPairCurveSet]] sorts by the full
    * (start, end) key. */
  private[graft] def buildPairCurveSets(all: Seq[(Int, Float, Float)])
  : Seq[(Int, Int, Int, Seq[FocusCurve])] = {
    val dflt = TimeSlot.Default.id
    val groups = all.groupBy(_._1).view.filterKeys(_ != dflt).toSeq :+
      (dflt, all ++ all.filter(_._1 == dflt))
    groups.flatMap { case (slot, rows) =>
      if (rows.length <= 20) None // F9 gate, reference `:337`
      else CurveBuilder.stopPairCurveSet(rows.map(r => (r._2, r._3))).map { csd =>
        (slot, csd.precisionType, csd.sampleSize,
          csd.curveSet.curves.map { case (f, c) =>
            FocusCurve(f, c.points.map(p => CurvePoint(p._1, p._2)))
          })
      }
    }
  }

  def stopPairCurveSets(projected: DataFrame): DataFrame = {
    val pairs = stopPairRowsBase(projected)
    // group via codegen'd collect_list (ObjectHashAggregate), NOT typed
    // groupByKey: the Dataset encoder deserializes every pair row into a
    // Scala tuple, which measured ~2x slower at 38M pair rows (PERF.md);
    // here only the per-group array crosses into Scala, once per group
    val buildUdf = udf((ps: Seq[org.apache.spark.sql.Row]) =>
      buildPairCurveSets(ps.map(r => (r.getInt(0), r.getFloat(1), r.getFloat(2))))
    ).asNondeterministic() // pure; collapse barrier — see generalDelayCurves
    pairs
      .groupBy(col("route_id"), col("route_variant"),
        col("start_idx").as("start_stop_index"), col("end_idx").as("end_stop_index"),
        col("event_type"))
      .agg(collect_list(struct(col("time_slot_id"),
        col("start_delay"), col("end_delay"))).as("ps"))
      .select(col("route_id"), col("route_variant"),
        col("start_stop_index"), col("end_stop_index"), col("event_type"),
        explode(buildUdf(col("ps"))).as("built"))
      .select(col("route_id"), col("route_variant"),
        col("start_stop_index"), col("end_stop_index"),
        col("built._1").as("time_slot_id"), col("event_type"),
        col("built._2").as("precision_type"), col("built._3").as("sample_size"),
        col("built._4").as("curves"))
  }

  /** A9: the default-curve hierarchy with its three-level fallback cascade
    * (reference `src/analyser/default_curves.rs:42-248`):
    *
    *  1. leaf: per (route_type, section, slot, variant, event) build a curve
    *     from that variant's RAW section delays (≥10 samples, simplify 0.001,
    *     `default_curves.rs:145-160`) — raw DB records, NOT the gap-filled
    *     projections (`default_curves.rs:115-117` queries the records table
    *     directly), and each record is assigned ONE time slot from its
    *     scheduled ARRIVAL datetime (departure fallback) for both event
    *     types (`sort_dbitems_by_timeslot`, `default_curves.rs:353-373`);
    *  2. General: average the per-variant curves of each (type, section,
    *     slot, event) cell, then simplify(0.001) (`default_curves.rs:222-226`);
    *  3. FallbackGeneral: empty cells take the average of ALL the route
    *     type's leaf curves for that event type, simplify(0.001) (`:231-235`);
    *  4. SuperGeneral: still-empty cells take the global average over every
    *     leaf pre-simplified at 0.01, then simplify(0.001) (`:196-208`).
    *
    * Grid: the reference's 11 route types × 3 sections × the 11 real time
    * slots (TIME_SLOTS, no Default — `default_curves.rs:136`) × 2 events.
    *
    * Only step 1 runs in Spark: it aggregates the records. Its output is
    * dimension-sized (at most #variants × 66 leaves — the same set the
    * reference's `default_curves.rs` holds in one process), so the leaves
    * are collected and steps 2-4 average them on the driver; the result is
    * a local relation. With at least one leaf every grid cell is filled, so
    * any lookup key over those dimensions resolves; with no leaves (no
    * records) the table is empty. */
  def defaultCurves(records: DataFrame, schedule: GtfsStatic.Schedule,
                    routes: DataFrame): DataFrame = {
    val spark = records.sparkSession
    val stops = scheduleStops(schedule)
      .select("trip_id", "stop_sequence", "stop_index", "stop_count",
        "arrival_secs", "departure_secs")
    val based = records
      .join(stops, Seq("trip_id", "stop_sequence"))
      .join(broadcast(routes.select(col("route_id"), col("route_type"))), Seq("route_id"))
      .withColumn("route_section",
        RouteSection.sectionColumn(col("stop_index"), col("stop_count")))
      // one slot per record: scheduled arrival instant, departure fallback
      .withColumn("time_slot_id", TimeSlot.slotIdColumn(GtfsTime.instantColumn(
        col("trip_start_date"),
        coalesce(col("arrival_secs"), col("departure_secs")))))
    val events = based
      .select(col("route_type"), col("route_section"), col("time_slot_id"),
        col("route_variant"),
        explode(array(
          struct(lit(EventType.Arrival).as("event_type"),
            col("delay_arrival").as("delay")),
          struct(lit(EventType.Departure).as("event_type"),
            col("delay_departure").as("delay")))).as("e"))
      .select(col("route_type"), col("route_section"), col("time_slot_id"),
        col("e.event_type").as("event_type"), col("route_variant"),
        col("e.delay").as("delay"))
      .filter(col("delay").isNotNull)

    // 1. per-variant leaf curves (collect_list shape — see
    //    generalDelayCurves for the rationale)
    val leafUdf = udf((delays: Seq[Float]) =>
      CurveBuilder.defaultCurve(delays).map { cd =>
        (cd.sampleSize, cd.curve.points.map(_._1).toArray, cd.curve.points.map(_._2).toArray)
      }).asNondeterministic() // pure; collapse barrier — see generalDelayCurves
    val leaves = events
      .groupBy(col("route_type"), col("route_section"), col("time_slot_id"),
        col("event_type"), col("route_variant"))
      .agg(collect_list(col("delay").cast("float")).as("delays"))
      .select(col("route_type"), col("route_section"), col("time_slot_id"),
        col("event_type"), leafUdf(col("delays")).as("built"))
      .filter(col("built").isNotNull)
      .select(col("route_type"), col("route_section"), col("time_slot_id"),
        col("event_type"), col("built._1"), col("built._2"), col("built._3"))
      .collect()
      .map { r =>
        DefaultLeaf(r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4),
          r.getSeq[Float](5).toArray, r.getSeq[Float](6).toArray)
      }
      // Float summation is not order-stable: average in a CANONICAL order
      // (sample_size, then raw points), independent of the collect order
      // (GoldenParitySpec walks the same order); groupBy keeps it per group
      .sortWith(DefaultLeaf.canonicalLt)
      .toSeq

    // 2. General per cell; 3. per (route_type, event_type) fallback pool;
    // 4. global fallback over every leaf pre-simplified(0.01)
    val general = leaves.groupBy(l => (l.routeType, l.section, l.slot, l.event))
      .view.mapValues(averageLeaves(_, None)).toMap
    val pool = leaves.groupBy(l => (l.routeType, l.event))
      .view.mapValues(averageLeaves(_, None)).toMap
    val global = if (leaves.isEmpty) None else Some(averageLeaves(leaves, Some(0.01f)))

    // full key grid over the reference's 11 route types (`default_curves.rs:
    // 46-58`; Coach/Air/Taxi carry their canonical extended GTFS codes) plus
    // any observed code outside that list (our schema keeps raw ints where
    // the reference's gtfs parser folds extended codes into the enum)
    val routeTypes = (Seq(0, 1, 2, 3, 4, 5, 6, 7, 200, 1100, 1500) ++
      leaves.map(_.routeType)).distinct
    val rows = for {
      (superN, superPoints) <- global.toSeq
      routeType <- routeTypes
      section <- Seq(RouteSection.Beginning, RouteSection.Middle, RouteSection.End)
      slot <- TimeSlot.Slots.map(_.id)
      event <- EventType.Types
    } yield {
      val (precision, (n, points)) = general.get((routeType, section, slot, event))
        .map(PrecisionType.General -> _)
        .orElse(pool.get((routeType, event)).map(PrecisionType.FallbackGeneral -> _))
        .getOrElse(PrecisionType.SuperGeneral -> (superN, superPoints))
      DefaultCurveRow(routeType, section, slot, event, precision, n, points)
    }
    spark.createDataFrame(rows)
  }

  /** Curve averaging over a pool of leaves in canonical order: reference
    * CurveData::average (`src/types/curve_data.rs:21-43` — sample_size =
    * Σ/len, integer div) followed by the cascade's post-average simplify. */
  private def averageLeaves(pool: Seq[DefaultLeaf], preSimplifyEps: Option[Float])
  : (Int, Seq[CurvePoint]) = {
    val curves = pool.map { l =>
      val c = Curve(l.xs.zip(l.ys).toVector)
      preSimplifyEps.fold(c)(c.simplify)
    }
    val avg = Curve.average(curves).simplify(0.001f)
    (pool.map(_.sampleSize).sum / pool.length, avg.points.map(p => CurvePoint(p._1, p._2)))
  }
}

/** One collected default-curve leaf, its points as primitive arrays. */
private final case class DefaultLeaf(routeType: Int, section: Int, slot: Int, event: Int,
                                     sampleSize: Int, xs: Array[Float], ys: Array[Float])

private object DefaultLeaf {
  /** Lexicographic on (sample_size, (x, y) points), shorter point list
    * first on a common prefix; floats compare in their total order. */
  def canonicalLt(a: DefaultLeaf, b: DefaultLeaf): Boolean = {
    var c = Integer.compare(a.sampleSize, b.sampleSize)
    var i = 0
    val n = math.min(a.xs.length, b.xs.length)
    while (c == 0 && i < n) {
      c = java.lang.Float.compare(a.xs(i), b.xs(i))
      if (c == 0) c = java.lang.Float.compare(a.ys(i), b.ys(i))
      i += 1
    }
    if (c == 0) c = Integer.compare(a.xs.length, b.xs.length)
    c < 0
  }
}
