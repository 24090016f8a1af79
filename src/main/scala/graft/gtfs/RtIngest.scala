package graft.gtfs

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** GTFS-realtime ingest: binaryFile scan -> protobuf decode -> explode ->
  * schedule join -> `records` table (SURVEY.md §3.1; reference
  * `src/importer/per_schedule_importer.rs`).
  *
  * Spark shape: the decode is a `flatMap` over whole files (each .pb file is
  * one row of the binaryFile source — GTFS-RT feeds are single protobuf
  * messages, so a file is the natural unit); everything downstream is
  * declarative DataFrame code so Catalyst can prune/push down. The schedule
  * side of the join is broadcast — a GTFS schedule is dimension-sized
  * relative to a season of realtime feeds.
  */
object RtIngest {

  /** One decoded (trip_update x stop_time_update) observation. */
  final case class RtObservation(
      rt_file: String,
      time_of_recording: Long, // feed header timestamp, unix seconds
      trip_id: String,
      route_id_rt: Option[String],
      start_date: Option[String], // YYYYMMDD
      start_time: Option[String], // H:MM:SS, may exceed 24h
      stop_sequence: Option[Int],
      stop_id: Option[String],
      delay_arrival: Option[Int],
      delay_departure: Option[Int])

  /** Decode one feed file defensively: a corrupt file yields zero
    * observations instead of failing the batch — the reference likewise
    * quarantines undecodable files into `failed/` and continues
    * (`src/importer/mod.rs:476-521`); here the directory lifecycle is the
    * source's business (cleanSource/archive), skipping is the data-path
    * equivalent. */
  private[graft] def decodeOrEmpty(bytes: Array[Byte], path: String): Option[GtfsRt.FeedMessage] =
    scala.util.Try(GtfsRt.decode(bytes, path)).toOption

  /** Decode every .pb/.zip feed file under `dir` into observations.
    * Files without a header timestamp are dropped (the reference errors on
    * them, `per_schedule_importer.rs:111-113`); undecodable files are
    * skipped, not fatal. */
  def readFeeds(spark: SparkSession, dir: String): Dataset[RtObservation] =
    decodeFeeds(spark.read.format("binaryFile").load(dir))

  /** One observation row per stop_time_update of every (path, content)
    * feed file of a binaryFile relation, batch or streaming alike. */
  private[graft] def decodeFeeds(files: DataFrame): Dataset[RtObservation] = {
    val spark = files.sparkSession
    import spark.implicits._
    files
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        val fileName = path.substring(path.lastIndexOf('/') + 1)
        for {
          msg <- decodeOrEmpty(bytes, path).toSeq
          ts <- msg.headerTimestamp.toSeq
          tu <- msg.tripUpdates
          tripId <- tu.trip.tripId.toSeq
          stu <- tu.stopTimeUpdates
        } yield RtObservation(
          rt_file = fileName,
          time_of_recording = ts,
          trip_id = tripId,
          route_id_rt = tu.trip.routeId,
          start_date = tu.trip.startDate,
          start_time = tu.trip.startTime,
          stop_sequence = stu.stopSequence,
          stop_id = stu.stopId,
          delay_arrival = stu.arrival.flatMap(_.delay),
          delay_departure = stu.departure.flatMap(_.delay))
      }
  }

  /** The logical key of a `records` row: one vehicle's one stop, per
    * source; last-wins merges keep the newest `time_of_recording` per key. */
  val RecordKey: Seq[String] = Seq("source", "route_id", "route_variant", "trip_id",
    "trip_start_date", "trip_start_time", "stop_sequence")

  /** Build the `records` table (schema: FIXTURES.md §3) from decoded
    * observations and a schedule.
    *
    *  - J1: inner broadcast join to trips drops updates for unknown trips
    *    (reference skip path `per_schedule_importer.rs:161-162`).
    *  - F4: rows with neither delay are dropped (`:375-384`).
    *  - W2: last `time_of_recording` wins per logical record key
    *    (`:406-421` UPDATE-where-older semantics), via row_number.
    */
  def records(obs: Dataset[RtObservation], schedule: GtfsStatic.Schedule,
              source: String, scheduleFileName: String): DataFrame = {
    val trips = schedule.tripRoutes
    val w = Window.partitionBy(RecordKey.map(col): _*)
      .orderBy(col("time_of_recording").desc)
    obs.toDF()
      .filter(col("delay_arrival").isNotNull || col("delay_departure").isNotNull)
      .filter(col("stop_sequence").isNotNull && col("stop_id").isNotNull)
      .join(broadcast(trips), Seq("trip_id"))
      .select(
        lit(source).as("source"),
        col("route_id"),
        col("route_variant"),
        col("trip_id"),
        to_date(col("start_date"), "yyyyMMdd").as("trip_start_date"),
        graft.model.GtfsTime.timeToSecondsColumn(col("start_time")).as("trip_start_time"),
        col("stop_sequence"),
        col("stop_id"),
        timestamp_seconds(col("time_of_recording")).as("time_of_recording"),
        col("delay_arrival"),
        col("delay_departure"),
        lit(scheduleFileName).as("schedule_file_name"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** §3.1 steps 3-4 end to end: decode ALL rt files once, as-of match each
    * file to its schedule (S4), then build records per schedule batch
    * against that schedule's own trip table and union. The per-schedule
    * loop is driver-side over a handful of schedule versions (dimension
    * cardinality); the data path stays one decode scan + one broadcast
    * join per schedule.
    *
    * The decoded observations are read by every schedule branch, so they
    * are one persisted `rtobs` memo entry per snapshot of the directory's
    * files: importing the same directory again reuses them, a rewritten
    * feed directory is a miss and a rebuild, and the memo's bound retires
    * them (the entry is keyed by the binaryFile relation, whose plan
    * compares equal across calls; the decode's closure never does). */
  def recordsMultiSchedule(spark: SparkSession, rtDir: String,
                           schedules: Map[String, GtfsStatic.Schedule],
                           source: String): DataFrame = {
    import spark.implicits._
    val files = spark.read.format("binaryFile").load(rtDir)
    val obs = graft.operators.SharedRelations("rtobs", files, 0, 0)(
      decodeFeeds(files).toDF()).as[RtObservation]
    val rtFiles = obs.select(col("rt_file")).distinct()
    val sched = schedules.keys.toSeq.toDF("schedule_file")
    // the assignment stays a DataFrame joined on rt_file — never collected:
    // with a year of rt files the file list is data-sized, and a driver-side
    // isin() would both bottleneck the driver and plant a giant In() literal
    val assignment = matchFilesToSchedules(rtFiles, sched)
    val obsAssigned = obs.join(broadcast(assignment), Seq("rt_file"))
    // driver loop only over schedule VERSIONS (dimension cardinality);
    // each branch filters by one schedule_file literal
    val batches = schedules.keys.toSeq.sorted.map { schedFile =>
      records(obsAssigned.filter(col("schedule_file") === schedFile)
          .drop("schedule_file").as[RtObservation],
        schedules(schedFile), source, schedFile)
    }
    batches.reduce(_ unionByName _)
  }

  /** S4 as-of matcher: each rt file (date parsed from its name,
    * `src/main.rs:101-121`) belongs to the NEWEST schedule not newer than it
    * (`src/importer/mod.rs:376-460`). Input: one-column DataFrames of file
    * names; output (rt_file, schedule_file). Pure DataFrame as-of join:
    * range join + row_number, schedule side broadcast (schedules are few). */
  def matchFilesToSchedules(rtFiles: DataFrame, scheduleFiles: DataFrame): DataFrame = {
    val dateOf = (c: org.apache.spark.sql.Column) =>
      to_date(regexp_extract(c, raw"(\d{4}-\d{2}-\d{2})", 1))
    val rt = rtFiles.select(col("rt_file"), dateOf(col("rt_file")).as("rt_date"))
    val sched = scheduleFiles.select(col("schedule_file"),
      dateOf(col("schedule_file")).as("sched_date"))
    val w = Window.partitionBy(col("rt_file")).orderBy(col("sched_date").desc)
    rt.join(broadcast(sched), col("rt_date") >= col("sched_date"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("rt_file", "schedule_file")
  }
}
