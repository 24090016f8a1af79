package graft.monitor

import graft.SparkSpec
import graft.analyse.CurvePoint
import graft.curves.{Curve, CurveBuilder}
import graft.gtfs.GtfsStatic
import graft.model.OriginType
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.{Date, Timestamp}

class MonitorSpec extends SparkSpec {

  private lazy val schedule = GtfsStatic.read(spark, "fixtures/gtfs_tiny")

  private def curve(pts: (Float, Float)*): Seq[CurvePoint] =
    pts.map(p => CurvePoint(p._1, p._2))

  private def predRow(tripId: String, routeId: String, stopId: String, seq: Int,
                      origin: Int, instant: String, delayLo: Float, delayHi: Float,
                      startSecs: Int = 8 * 3600) =
    (tripId, routeId, stopId, seq, 2 /*departure*/, origin,
      "2024-03-15", startSecs,
      Timestamp.valueOf(instant),
      Timestamp.valueOf(instant), // prediction_min ~ instant for simplicity
      Timestamp.valueOf(instant.replace("08:", "09:")),
      curve((delayLo, 0.0f), (delayHi, 1.0f)))

  private lazy val predictions = {
    import spark.implicits._
    Seq(
      // realtime + schedule rows for the same vehicle -> F6 drops schedule
      predRow("tA1", "rA", "s2", 2, OriginType.Realtime, "2024-03-15 08:05:00", 0f, 120f),
      predRow("tA1", "rA", "s2", 2, OriginType.Schedule, "2024-03-15 08:05:00", 0f, 240f),
      // another vehicle (distinct start time), schedule only -> kept
      predRow("tA2", "rA", "s2", 2, OriginType.Schedule, "2024-03-15 08:40:00", 0f, 60f,
        startSecs = 9 * 3600),
      // final stop of tB1 -> F7 drops
      predRow("tB1", "rB", "s8", 3, OriginType.Schedule, "2024-03-15 08:50:00", 0f, 60f),
      // outside the window -> F5 drops
      predRow("tA3", "rA", "s2", 2, OriginType.Schedule, "2024-03-15 11:00:00", 0f, 60f))
      .toDF("trip_id", "route_id", "stop_id", "stop_sequence", "event_type",
        "origin_type", "trip_start_date_s", "trip_start_time",
        "event_instant", "prediction_min", "prediction_max", "prediction_curve")
      .withColumn("trip_start_date", to_date(col("trip_start_date_s")))
      .drop("trip_start_date_s")
  }

  test("departure board applies F5/F6/F7 and sorts by median time (W4)") {
    val board = Monitor.departureBoard(predictions,
      schedule.trips, schedule.routes, schedule.stopTimes,
      stopIds = Seq("s2", "s8"),
      minTime = Timestamp.valueOf("2024-03-15 08:00:00"),
      maxTime = Timestamp.valueOf("2024-03-15 09:30:00"))
    val rows = board.select("trip_id", "origin_type").collect()
    // tA1 realtime kept, tA1 schedule dropped (F6), tA2 kept,
    // tB1 dropped (F7 last stop), tA3 dropped (F5 window)
    assert(rows.map(_.getString(0)).toSeq == Seq("tA1", "tA2"))
    assert(rows.head.getInt(1) == OriginType.Realtime)
    val enriched = board.collect().head
    assert(enriched.getAs[String]("route_short_name") == "4")
    assert(enriched.getAs[Int]("route_type") == 3)
  }

  test("F6 shadows by vehicle across stops; null origins drop, null keys never shadow") {
    import spark.implicits._
    def row(trip: String, route: String, stop: String, seq: Int, origin: Option[Int],
            startSecs: Int, instant: String) = {
      val at = Timestamp.valueOf(s"2024-03-15 $instant")
      (trip, route, stop, seq, origin, Date.valueOf("2024-03-15"), startSecs,
        at, at, at, curve((0f, 0f), (60f, 1f)))
    }
    val preds = Seq(
      // one vehicle: Realtime at s1 shadows its Schedule row at s2
      row("tA1", "rA", "s1", 1, Some(OriginType.Realtime), 8 * 3600, "08:01:00"),
      row("tA1", "rA", "s2", 2, Some(OriginType.Schedule), 8 * 3600, "08:06:00"),
      // a Schedule-only vehicle keeps its rows
      row("tA2", "rA", "s1", 1, Some(OriginType.Schedule), 9 * 3600, "09:01:00"),
      row("tA2", "rA", "s2", 2, Some(OriginType.Schedule), 9 * 3600, "09:06:00"),
      // a null origin_type is neither Realtime nor shadowable: dropped
      row("tA3", "rA", "s2", 2, None, 10 * 3600, "08:30:00"),
      // null route_id: equal keys otherwise, but a null key names no vehicle
      row("tB1", null, "s1", 1, Some(OriginType.Realtime), 12 * 3600, "08:40:00"),
      row("tB2", null, "s1", 1, Some(OriginType.Schedule), 12 * 3600, "08:50:00"))
      .toDF("trip_id", "route_id", "stop_id", "stop_sequence", "origin_type",
        "trip_start_date", "trip_start_time", "event_instant", "prediction_min",
        "prediction_max", "prediction_curve")
      .withColumn("event_type", lit(2))
    val board = Monitor.departureBoard(preds,
      schedule.trips, schedule.routes, schedule.stopTimes,
      stopIds = Seq("s1", "s2"),
      minTime = Timestamp.valueOf("2024-03-15 08:00:00"),
      maxTime = Timestamp.valueOf("2024-03-15 09:30:00"))
    val rows = board.select("trip_id", "stop_id", "origin_type").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq
    assert(rows == Seq(
      ("tA1", "s1", OriginType.Realtime),
      ("tB1", "s1", OriginType.Realtime),
      ("tB2", "s1", OriginType.Schedule),
      ("tA2", "s1", OriginType.Schedule),
      ("tA2", "s2", OriginType.Schedule)))
  }

  test("the board scans a parquet predictions table once") {
    val path = tempDir("board_preds").resolve("p").toString
    predictions.write.parquet(path)
    val board = Monitor.departureBoard(spark.read.parquet(path),
      schedule.trips, schedule.routes, schedule.stopTimes,
      stopIds = Seq("s2", "s8"),
      minTime = Timestamp.valueOf("2024-03-15 08:00:00"),
      maxTime = Timestamp.valueOf("2024-03-15 09:30:00"))
    assert(board.select("trip_id").collect().map(_.getString(0)).toSeq == Seq("tA1", "tA2"))
    val scans = new AdaptiveSparkPlanHelper {}.collect(board.queryExecution.executedPlan) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.endsWith(path)) => s
    }
    assert(scans.size == 1, board.queryExecution.executedPlan)
  }

  /** A temp copy of gtfs_tiny, so a spec can rewrite its files. */
  private def scheduleCopy(prefix: String): java.nio.file.Path = {
    val dir = tempDir(prefix)
    copyTree(java.nio.file.Paths.get("fixtures/gtfs_tiny"), dir)
    dir
  }

  private def boardTrips(s: GtfsStatic.Schedule, preds: org.apache.spark.sql.DataFrame) =
    Monitor.departureBoard(preds, s.trips, s.routes, s.stopTimes,
      stopIds = Seq("s2", "s8"),
      minTime = Timestamp.valueOf("2024-03-15 08:00:00"),
      maxTime = Timestamp.valueOf("2024-03-15 09:30:00"))
      .select("trip_id").collect().map(_.getString(0)).toSeq

  test("an edited stop_times.txt changes which rows the next board drops under F7") {
    val dir = scheduleCopy("board_edit")
    assert(boardTrips(GtfsStatic.read(spark, dir.toString), predictions) == Seq("tA1", "tA2"))
    // tB1 gains a stop after s8, so its s8 row is no longer a final stop
    Files.write(dir.resolve("stop_times.txt"),
      "tB1,12:50:00,12:51:00,s9,4\n".getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
    assert(boardTrips(GtfsStatic.read(spark, dir.toString), predictions) ==
      Seq("tA1", "tA2", "tB1"))
  }

  test("a warm board reads its schedule dimensions from the memo: at most 4 jobs") {
    val path = tempDir("board_warm").resolve("p").toString
    predictions.write.parquet(path)
    val s = GtfsStatic.read(spark, scheduleCopy("board_warm_gtfs").toString)
    def kind = graft.operators.SharedRelations.byKind.find(_.kind == "boarddims")
    val misses = kind.fold(0L)(_.misses)
    assert(boardTrips(s, spark.read.parquet(path)) == Seq("tA1", "tA2"))
    assert(kind.get.misses == misses + 1)
    assert(kind.get.residentBytes > 0, "the dimensions are cached once a board reads them")
    val hits = kind.get.hits
    val preds = spark.read.parquet(path) // its schema inference runs a job
    val jobs = jobsDuring(assert(boardTrips(s, preds) == Seq("tA1", "tA2")))
    assert(jobs <= 4, s"a warm board ran $jobs jobs")
    assert(kind.get.hits == hits + 1 && kind.get.misses == misses + 1)
  }

  test("quantile markers and curve UDFs match the pure curve math") {
    import spark.implicits._
    val pts = curve((0f, 0.0f), (60f, 0.5f), (120f, 1.0f))
    val df = Seq(Tuple1(pts)).toDF("prediction_curve")
      .select(Monitor.quantileMarkers(col("prediction_curve")).as("m"),
        Monitor.curveQuantile(col("prediction_curve"), lit(0.5f)).as("med"),
        Monitor.curveCdf(col("prediction_curve"), lit(90f)).as("cdf90"))
    val r = df.collect().head
    val c = Curve(pts.map(p => (p.x, p.y)).toVector)
    assert(r.getAs[Float]("med") == c.xAtY(0.5f))
    assert(r.getAs[Float]("cdf90") == c.yAtX(90f))
    assert(r.getAs[org.apache.spark.sql.Row]("m").getAs[Float]("q50") == c.xAtY(0.5f))
  }

  test("transfers: tight connection scores low, comfortable one high; F8 floor") {
    import spark.implicits._
    val arrivals = Seq(
      ("tA1", "s2", Timestamp.valueOf("2024-03-15 08:05:00"), curve((0f, 0f), (120f, 1f))))
      .toDF("trip_id", "stop_id", "event_instant", "prediction_curve")
    val departures = Seq(
      // departs 10 min after scheduled arrival -> easy transfer
      ("tB1", "s2", Timestamp.valueOf("2024-03-15 08:15:00"), curve((0f, 0f), (60f, 1f))),
      // departs 2 min BEFORE -> hopeless, filtered by the 5% floor
      ("tB2", "s2", Timestamp.valueOf("2024-03-15 08:03:00"), curve((0f, 0f), (30f, 1f))))
      .toDF("trip_id", "stop_id", "event_instant", "prediction_curve")
    val t = Monitor.transfers(arrivals, departures, walkMeters = 0.0).collect()
    assert(t.length == 1)
    assert(t.head.getAs[String]("departure_trip") == "tB1")
    assert(t.head.getAs[Float]("transfer_probability") > 0.8f)
  }

  test("banded transfers == cartesian transfers; plan is keyed, not cartesian") {
    import spark.implicits._
    val arrivals = Seq(
      ("tA1", "s2", Timestamp.valueOf("2024-03-15 08:05:00"), curve((0f, 0f), (120f, 1f))),
      ("tA2", "s2", Timestamp.valueOf("2024-03-15 09:00:00"), curve((0f, 0f), (60f, 1f))),
      ("tA9", "s9", Timestamp.valueOf("2024-03-15 08:00:00"), curve((0f, 0f), (60f, 1f))))
      .toDF("trip_id", "stop_id", "event_instant", "prediction_curve")
    val departures = Seq(
      ("tB1", "s3", Timestamp.valueOf("2024-03-15 08:15:00"), curve((0f, 0f), (60f, 1f))),
      ("tB2", "s3", Timestamp.valueOf("2024-03-15 09:10:00"), curve((0f, 0f), (30f, 1f))),
      ("tB3", "s7", Timestamp.valueOf("2024-03-15 08:20:00"), curve((0f, 0f), (30f, 1f))))
      .toDF("trip_id", "stop_id", "event_instant", "prediction_curve")
    val stopPairs = Seq(("s2", "s3", 120.0)).toDF(
      "arrival_stop", "departure_stop", "walk_meters")
    val banded = Monitor.transfersBanded(arrivals, departures, stopPairs,
      horizonSecs = 7200, minProbability = 0.0)
    // the cartesian twin, restricted to the same stop pair (its contract)
    val cart = Monitor.transfers(
      arrivals.filter(col("stop_id") === "s2"),
      departures.filter(col("stop_id") === "s3"),
      walkMeters = 120.0, minProbability = 0.0)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getString(0), r.getString(2), r.getFloat(4))).toSet
    assert(key(banded) == key(cart) && key(banded).nonEmpty)
    // the physical plan must pair through the stop key, never a product
    val plan = banded.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"), plan)
  }

  test("banded transfers excludes out-of-band departures") {
    import spark.implicits._
    val arrivals = Seq(
      ("tA1", "s2", Timestamp.valueOf("2024-03-15 08:05:00"), curve((0f, 0f), (120f, 1f))))
      .toDF("trip_id", "stop_id", "event_instant", "prediction_curve")
    val departures = Seq( // next day: outside horizon+slack, certain transfer
      ("tB1", "s3", Timestamp.valueOf("2024-03-16 20:00:00"), curve((0f, 0f), (60f, 1f))))
      .toDF("trip_id", "stop_id", "event_instant", "prediction_curve")
    val stopPairs = Seq(("s2", "s3", 0.0)).toDF(
      "arrival_stop", "departure_stop", "walk_meters")
    assert(Monitor.transfersBanded(arrivals, departures, stopPairs,
      horizonSecs = 3600, minProbability = 0.0).count() == 0)
  }

  test("walk-aware transfers shift the arrival curve later (lower probability)") {
    import spark.implicits._
    val arrivals = Seq(
      ("tA1", "s2", Timestamp.valueOf("2024-03-15 08:05:00"), curve((0f, 0f), (120f, 1f))))
      .toDF("trip_id", "stop_id", "event_instant", "prediction_curve")
    val departures = Seq(
      ("tB1", "s6", Timestamp.valueOf("2024-03-15 08:15:00"), curve((0f, 0f), (60f, 1f))))
      .toDF("trip_id", "stop_id", "event_instant", "prediction_curve")
    val noWalk = Monitor.transfers(arrivals, departures, walkMeters = 0.0)
      .collect().head.getAs[Float]("transfer_probability")
    val walk = Monitor.transfers(arrivals, departures, walkMeters = 400.0, minProbability = 0.0)
      .collect().head.getAs[Float]("transfer_probability")
    assert(walk < noWalk)
  }

  test("extendedStops finds the <300m neighbour pair from the fixture") {
    // s2 (Domsheide) and s6 (Domsheide West) are ~40m apart
    val near = Monitor.extendedStops(schedule.stops, 53.0745, 8.8090)
      .select("stop_id").collect().map(_.getString(0)).toSet
    assert(near.contains("s2") && near.contains("s6"))
    assert(!near.contains("s8"))
  }
}
