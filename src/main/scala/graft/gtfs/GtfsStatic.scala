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
    if (!required && !graft.GraftSession.pathExists(spark, path))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.option("header", "true").schema(schema).csv(path)
  }

  /** A loaded schedule: the six tables as read, plus the compiled stop
    * list of every trip ([[GtfsStatic.tripStops]]) that every verb reads. */
  final case class Schedule(stops: DataFrame, routes: DataFrame, trips: DataFrame,
                            stopTimes: DataFrame, calendar: DataFrame,
                            calendarDates: DataFrame) {
    /** Every trip's ordered stop list ([[GtfsStatic.tripStops]]). */
    def tripStops: DataFrame = GtfsStatic.tripStops(trips, stopTimes)

    /** trip_id, route_id and route_variant, one row per trip with stop
      * times: the first-stop rows of [[tripStops]]. */
    def tripRoutes: DataFrame = tripStops.filter(col("stop_index") === 0)
      .select("trip_id", "route_id", "route_variant")

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

  /** The compiled schedule: every trip's stop list, ordered by
    * (stop_sequence, stop_id), one row per stop with
    *  - trip_id, route_id, route_variant;
    *  - stop_sequence, stop_id, stop_index (0-based position in the
    *    order), stop_count;
    *  - arrival_secs, departure_secs (seconds after the service day's
    *    midnight, past 24 h for after-midnight stops; null when
    *    `stopTimes` carries no such column);
    *  - first_departure_secs: the departure seconds of stop_index 0, the
    *    trip run's start time (the GTFS-RT trip descriptor's start_time).
    *
    * `route_variant` is one id per distinct ordered stop_id sequence
    * within a route (the reference gets it from its forked gtfs-structures
    * crate; usage at `src/analyser/specific_curves.rs:123`):
    * `abs(xxhash64(route_id, to_json(stop_ids)))`. A content hash, not a
    * rank, so it is the same across runs and cluster layouts, and it keys
    * every persisted statistics table. The JSON array (quoted, escaped
    * elements) keeps the key injective in the stop sequence for any
    * stop_id content; a plain concatenation would not be.
    *
    * A trip's route_id comes from `trips`, keyed by trip_id; stop times
    * of a trip missing from `trips` are not in the relation. Stop times
    * and trips are grouped per trip in one shuffle, and the result is one
    * persisted [[graft.operators.SharedRelations]] entry per snapshot of
    * the two inputs' files: every verb that reads the same schedule files
    * reads this one relation, and a rewritten schedule file is a miss and
    * a rebuild, never a stale stop list. */
  def tripStops(trips: DataFrame, stopTimes: DataFrame): DataFrame =
    graft.operators.SharedRelations.group("tripstops", Seq(trips, stopTimes), 0, 0) {
      val spark = trips.sparkSession
      def secs(c: String): Column =
        if (stopTimes.columns.contains(c)) graft.model.GtfsTime.timeToSecondsColumn(col(c))
        else lit(null).cast(IntegerType)
      val stop = struct(col("stop_sequence"), col("stop_id"),
        secs("arrival_time").as("arrival_secs"), secs("departure_time").as("departure_secs"))
      // the trips ride in the same shuffle as the stop times (a union, not
      // a join): one exchange keyed by trip_id builds both sides. Its
      // partition count is fixed at the session's shuffle partitions: a
      // cached plan keeps its exchange's count (adaptive execution does
      // not coalesce it), and the hash partitioning on trip_id is what
      // later joins on trip_id reuse
      val timed = stopTimes.select(col("trip_id"), stop.as("s"),
        lit(null).cast(StringType).as("route_id"), lit(false).as("in_trips"))
      val perTrip = timed
        .unionByName(trips.select(col("trip_id"),
          lit(null).cast(timed.schema("s").dataType).as("s"),
          col("route_id"), lit(true).as("in_trips")))
        .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt, col("trip_id"))
        .groupBy("trip_id")
        // sorting the structs sorts by (stop_sequence, stop_id) first; the
        // seconds only order exact duplicates, whose stop_ids are equal
        .agg(array_sort(collect_list(col("s"))).as("stops"),
          max(col("route_id")).as("route_id"), max(col("in_trips")).as("in_trips"))
        .filter(col("trip_id").isNotNull && col("in_trips") && size(col("stops")) > 0)
      Seq(perTrip
        .select(col("trip_id"), col("route_id"),
          // abs() keeps it in the positive u64-like range the reference uses
          abs(xxhash64(col("route_id"),
            to_json(transform(col("stops"), _.getField("stop_id"))))).as("route_variant"),
          size(col("stops")).as("stop_count"),
          col("stops").getItem(0).getField("departure_secs").as("first_departure_secs"),
          posexplode(col("stops")).as(Seq("stop_index", "s")))
        .select(col("trip_id"), col("route_id"), col("route_variant"),
          col("s.stop_sequence").as("stop_sequence"), col("s.stop_id").as("stop_id"),
          col("stop_index"), col("stop_count"),
          col("s.arrival_secs").as("arrival_secs"),
          col("s.departure_secs").as("departure_secs"), col("first_departure_secs"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    }.head

  /** (trip_id, route_variant LongType): the first-stop rows of
    * [[tripStops]], one per trip with stop times. */
  def routeVariants(trips: DataFrame, stopTimes: DataFrame): DataFrame =
    tripStops(trips, stopTimes).filter(col("stop_index") === 0)
      .select("trip_id", "route_variant")

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
