package graft.gtfs

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** GTFS static schedule ingest (reference: whole-schedule load via the
  * gtfs-structures fork, `src/main.rs:399-404`; our Spark-first form reads
  * each GTFS CSV with an explicit schema — no inference — and derives the
  * fork's extra `route_variant` field relationally).
  *
  * Schemas carry exactly the columns the reference reads (SURVEY.md §1.1.1,
  * FIXTURES.md §1). Small dimension tables (routes, stops, calendar) are
  * broadcast-sized by nature; `stop_times` is the only big table.
  */
object GtfsStatic {

  val stopsSchema: StructType = StructType(Seq(
    StructField("stop_id", StringType, nullable = false),
    StructField("stop_name", StringType),
    StructField("stop_lat", DoubleType),
    StructField("stop_lon", DoubleType)))

  val routesSchema: StructType = StructType(Seq(
    StructField("route_id", StringType, nullable = false),
    StructField("agency_id", StringType),
    StructField("route_short_name", StringType),
    StructField("route_type", IntegerType)))

  val tripsSchema: StructType = StructType(Seq(
    StructField("trip_id", StringType, nullable = false),
    StructField("route_id", StringType, nullable = false),
    StructField("service_id", StringType),
    StructField("trip_headsign", StringType),
    StructField("shape_id", StringType)))

  val stopTimesSchema: StructType = StructType(Seq(
    StructField("trip_id", StringType, nullable = false),
    StructField("arrival_time", StringType),
    StructField("departure_time", StringType),
    StructField("stop_id", StringType, nullable = false),
    StructField("stop_sequence", IntegerType, nullable = false)))

  val calendarSchema: StructType = StructType(Seq(
    StructField("service_id", StringType, nullable = false),
    StructField("monday", IntegerType), StructField("tuesday", IntegerType),
    StructField("wednesday", IntegerType), StructField("thursday", IntegerType),
    StructField("friday", IntegerType), StructField("saturday", IntegerType),
    StructField("sunday", IntegerType),
    StructField("start_date", StringType), StructField("end_date", StringType)))

  val calendarDatesSchema: StructType = StructType(Seq(
    StructField("service_id", StringType, nullable = false),
    StructField("date", StringType, nullable = false),
    StructField("exception_type", IntegerType, nullable = false)))

  private def csv(spark: SparkSession, dir: String, file: String, schema: StructType,
                  required: Boolean = true): DataFrame = {
    val path = s"$dir/$file"
    if (!required && !new java.io.File(path).exists())
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.option("header", "true").schema(schema).csv(path)
  }

  /** A loaded schedule: the five core tables plus the derived
    * trip -> route_variant mapping. */
  final case class Schedule(stops: DataFrame, routes: DataFrame, trips: DataFrame,
                            stopTimes: DataFrame, calendar: DataFrame,
                            calendarDates: DataFrame) {
    /** trips enriched with route_variant (see [[routeVariants]]). */
    lazy val tripsWithVariant: DataFrame =
      trips.join(routeVariants(trips, stopTimes), Seq("trip_id"))
  }

  def read(spark: SparkSession, dir: String): Schedule = Schedule(
    stops = csv(spark, dir, "stops.txt", stopsSchema),
    routes = csv(spark, dir, "routes.txt", routesSchema),
    trips = csv(spark, dir, "trips.txt", tripsSchema),
    stopTimes = csv(spark, dir, "stop_times.txt", stopTimesSchema),
    calendar = csv(spark, dir, "calendar.txt", calendarSchema, required = false),
    calendarDates = csv(spark, dir, "calendar_dates.txt", calendarDatesSchema, required = false))

  /** Derive `route_variant`: one id per distinct ordered stop_id sequence
    * within a route (the reference gets this from its forked gtfs-structures
    * crate; usage at `src/analyser/specific_curves.rs:123`). Deterministic
    * across runs and cluster layouts because it is a content hash of
    * (route_id, ordered stop sequence), not a rank — variants keyed this way
    * can be persisted and re-derived stably.
    *
    * Returns (trip_id, route_variant LongType). One shuffle: the groupBy on
    * trip_id; the stop-sequence ordering happens inside `array_sort` on the
    * collected per-trip list, so no global sort is needed.
    */
  def routeVariants(trips: DataFrame, stopTimes: DataFrame): DataFrame = {
    val seqPerTrip = stopTimes
      .select(col("trip_id"), struct(col("stop_sequence"), col("stop_id")).as("s"))
      .groupBy("trip_id")
      .agg(array_sort(collect_list(col("s"))).as("stops_sorted"))
      // STRUCTURAL serialization (JSON array, quoted + escaped elements),
      // immune to concatenation ambiguity for ANY stop_id content —
      // route_variant keys every persisted statistics table, so the key
      // must be injective in the stop sequence (VERDICT r1/r2)
      .select(col("trip_id"),
        to_json(transform(col("stops_sorted"), _.getField("stop_id"))).as("stop_seq_key"))
    trips.select(col("trip_id"), col("route_id"))
      .join(seqPerTrip, Seq("trip_id"))
      // abs() keeps it in the positive u64-like range the reference uses
      .select(col("trip_id"),
        abs(xxhash64(col("route_id"), col("stop_seq_key"))).as("route_variant"))
  }

  /** Which services run on which days of [from, from+days): one
    * (service_id, service_date) row per running service and day (reference
    * `trips_for_date` via gtfs-structures, called per day by
    * `src/importer/scheduled_predictions_importer.rs:115-139`; here one
    * relation covers the whole horizon). A day runs a service when its `calendar.txt` weekday bit is set
    * and the day lies within [start_date, end_date], or when
    * `calendar_dates.txt` adds it (exception_type 1); a removal
    * (exception_type 2) wins over both. The days are a local relation, so
    * the plan has the same shape for any horizon length; `days <= 0` gives
    * an empty relation. */
  def serviceDays(schedule: Schedule, from: java.time.LocalDate, days: Int): DataFrame = {
    val spark = schedule.calendar.sparkSession
    val daySchema = StructType(Seq(
      StructField("service_date", DateType, nullable = false),
      StructField("d8", StringType, nullable = false),
      StructField("iso_weekday", IntegerType, nullable = false)))
    val dayRows = (0 until days).map { i =>
      val day = from.plusDays(i)
      org.apache.spark.sql.Row(java.sql.Date.valueOf(day),
        day.format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE),
        day.getDayOfWeek.getValue)
    }
    val horizon = broadcast(spark.createDataFrame(
      java.util.Arrays.asList(dayRows: _*), daySchema))
    // ISO weekday 1 = Monday … 7 = Sunday indexes the calendar's bits
    val weekdayBit = element_at(array(Seq("monday", "tuesday", "wednesday",
      "thursday", "friday", "saturday", "sunday").map(col): _*), col("iso_weekday"))
    val base = schedule.calendar
      .join(horizon, weekdayBit === 1 &&
        col("start_date") <= col("d8") && col("end_date") >= col("d8"))
      .select(col("service_id"), col("service_date"), lit(false).as("removed"))
    val exceptions = schedule.calendarDates
      .filter(col("exception_type").isin(1, 2))
      .join(horizon, col("date") === col("d8"))
      .select(col("service_id"), col("service_date"),
        (col("exception_type") === 2).as("removed"))
    base.unionByName(exceptions)
      .groupBy("service_id", "service_date")
      .agg(max(col("removed")).as("removed"))
      .filter(!col("removed"))
      .select("service_id", "service_date")
  }

  /** The service_ids running on one date: [[serviceDays]] for one day. */
  def serviceIdsForDate(schedule: Schedule, date: java.time.LocalDate): DataFrame =
    serviceDays(schedule, date, 1).select("service_id")

  /** Trips running on a date (used by the visual schedule). */
  def tripsForDate(schedule: Schedule, date: java.time.LocalDate): DataFrame =
    schedule.trips.join(broadcast(serviceIdsForDate(schedule, date)), Seq("service_id"), "left_semi")
}
