package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.gtfs.{GtfsStatic, RtIngest}

/** The reference's `import automatic` mode (SURVEY.md §2.8 — a hand-rolled
  * 5-second directory poller, `src/importer/mod.rs:30,295-460`) as
  * Structured Streaming:
  *
  *   file source (binaryFile) → decode flatMap → broadcast schedule join
  *     → foreachBatch { last-wins merge into the records table }
  *     → stateful prediction-basis dedup (flatMapGroupsWithState)
  *
  * The reference's `imported/`-dir bookkeeping maps to checkpointing +
  * `cleanSource=archive`; its `Mutex<HashMap<VehicleIdentifier,
  * PredictionBasis>>` (`src/importer/mod.rs:42`) maps to per-key group
  * state with a processing-time TTL standing in for the 12 h cleanup
  * (`src/importer/mod.rs:27,174-223`).
  */
object RtStream {

  /** The last realtime position of a vehicle that predictions were computed
    * from (reference `PredictionBasis`, `src/types/mod.rs` via
    * `per_schedule_importer.rs:266-313`). */
  final case class PredictionBasis(stopSequence: Int, delayDeparture: Option[Int])

  final case class VehicleUpdate(
      trip_id: String, trip_start_date: String, trip_start_time: String,
      route_id: String, stop_sequence: Int, delay_departure: Option[Int],
      time_of_recording: Long)

  /** Work item emitted when a vehicle's basis changes: downstream feeds the
    * Predictor with (vehicle, basis) requests for all later stops. */
  final case class PredictionWork(
      trip_id: String, trip_start_date: String, trip_start_time: String,
      route_id: String, basis_stop_sequence: Int, basis_delay: Option[Int],
      time_of_recording: Long)

  /** Streaming decode: one observation row per stop_time_update, the
    * same decode as `RtIngest.readFeeds` on a stream. A corrupt file gives
    * zero rows, never a dead stream (the reference quarantines it into
    * `failed/` and continues). */
  def observations(spark: SparkSession, dir: String,
                   archiveDir: Option[String] = None): Dataset[RtIngest.RtObservation] = {
    val base = spark.readStream.format("binaryFile")
    // the reference moves processed files to `imported/`
    // (`src/importer/mod.rs:523-555`); cleanSource=archive is the
    // streaming-source equivalent
    val withArchive = archiveDir.fold(base)(a =>
      base.option("cleanSource", "archive").option("sourceArchiveDir", a))
    RtIngest.decodeFeeds(withArchive
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("modificationTime", org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("length", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.BinaryType))))
      .load(dir))
  }

  /** Reduce a micro-batch of observations to one latest-position update per
    * vehicle (the reference takes the last stop_time_update with data,
    * `per_schedule_importer.rs:266-286`). */
  def vehicleUpdates(obs: Dataset[RtIngest.RtObservation]): Dataset[VehicleUpdate] = {
    val spark = obs.sparkSession
    import spark.implicits._
    obs
      .filter(o => o.stop_sequence.isDefined && o.start_date.isDefined && o.start_time.isDefined)
      .groupByKey(o => (o.trip_id, o.start_date.get, o.start_time.get))
      .mapGroups((key: (String, String, String), rows: Iterator[RtIngest.RtObservation]) => {
        val all = rows.toSeq
        val latestFeed = all.maxBy(_.time_of_recording)
        val latestPos = all.filter(_.time_of_recording == latestFeed.time_of_recording)
          .maxBy(_.stop_sequence.get)
        VehicleUpdate(key._1, key._2, key._3,
          latestPos.route_id_rt.getOrElse(""),
          latestPos.stop_sequence.get, latestPos.delay_departure,
          latestFeed.time_of_recording)
      })
  }

  /** Stateful dedup: emit a PredictionWork item only when the vehicle's
    * basis (stop_sequence, delay) actually changed; state expires after
    * `ttlMs` of inactivity (the reference's 12 h retention,
    * `MAX_ESTIMATED_TRIP_DURATION`). Pass ttlMs = 0 to disable expiry
    * (tests: ProcessingTimeTimeout schedules continuous empty batches,
    * which keeps processAllAvailable from draining). */
  def dedupPredictionWork(updates: Dataset[VehicleUpdate],
                          ttlMs: Long = 12L * 3600 * 1000): Dataset[PredictionWork] = {
    val spark = updates.sparkSession
    import spark.implicits._
    val timeoutConf =
      if (ttlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    updates
      .groupByKey(u => (u.trip_id, u.trip_start_date, u.trip_start_time))
      .flatMapGroupsWithState[PredictionBasis, PredictionWork](
        OutputMode.Update(), timeoutConf)(
        (key: (String, String, String), rows: Iterator[VehicleUpdate],
         state: GroupState[PredictionBasis]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val latest = rows.toSeq.maxBy(u => (u.time_of_recording, u.stop_sequence))
            val basis = PredictionBasis(latest.stop_sequence, latest.delay_departure)
            val unchanged = state.exists && state.get == basis
            state.update(basis)
            if (ttlMs > 0) state.setTimeoutDuration(ttlMs)
            if (unchanged) Iterator.empty
            else Iterator.single(PredictionWork(key._1, key._2, key._3,
              latest.route_id, basis.stopSequence, basis.delayDeparture,
              latest.time_of_recording))
          }
        })
  }

  /** Watermarked tumbling-window delay statistics over the observation
    * stream (§2.8: event-time windows + watermark; the reference's periodic
    * per-source counters, `src/importer/importer_stats.rs` spirit, as a
    * streaming aggregation). The watermark bounds aggregation state: a
    * window's state is dropped once event time passes its end + the
    * allowed lateness — without it, a long-running automatic-mode stream
    * accumulates state forever. */
  def windowedDelayStats(obs: Dataset[RtIngest.RtObservation],
                         windowLength: String = "5 minutes",
                         lateness: String = "10 minutes"): DataFrame =
    obs.toDF()
      .withColumn("ts", timestamp_seconds(col("time_of_recording")))
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLength),
        coalesce(col("route_id_rt"), lit("?")).as("route_id"))
      .agg(count(lit(1)).as("n_updates"),
        avg(col("delay_departure")).as("avg_delay_departure"),
        max(col("delay_departure")).as("max_delay_departure"))
      .select(col("window.start").as("window_start"), col("route_id"),
        col("n_updates"), col("avg_delay_departure"), col("max_delay_departure"))

  /** The COMPLETE automatic mode (§3.1 end to end): alongside the records
    * sink of [[start]], a second streaming query turns the same feed
    * directory into vehicle updates → stateful basis dedup → realtime
    * ladder predictions, upserted last-wins into a
    * `trip_start_date`-partitioned predictions table. Returns (records
    * query, predictions query); stop both to shut the mode down. The two
    * queries keep separate checkpoints under `checkpointBase`. Both read
    * the schedule's stop lists, and the predictions query the statistics,
    * from memo entries built on the first batch that needs them
    * ([[GtfsStatic.tripStops]], `RealtimePredictions.fromWork`), so no
    * batch rebuilds a static relation. */
  def startAutomatic(spark: SparkSession, rtDir: String,
                     schedule: GtfsStatic.Schedule,
                     stats: graft.analyse.StatisticsIO.Statistics,
                     recordsPath: String, predictionsPath: String,
                     checkpointBase: String,
                     source: String = "rt", scheduleFileName: String = "schedule",
                     trigger: org.apache.spark.sql.streaming.Trigger =
                       org.apache.spark.sql.streaming.Trigger.ProcessingTime("5 seconds"),
                     basisTtlMs: Long = 12L * 3600 * 1000,
                     now: () => java.sql.Timestamp =
                       () => new java.sql.Timestamp(System.currentTimeMillis()))
  : (org.apache.spark.sql.streaming.StreamingQuery,
     org.apache.spark.sql.streaming.StreamingQuery) = {
    val recordsQuery = start(spark, rtDir, schedule, recordsPath,
      s"$checkpointBase/records", source, scheduleFileName, trigger)
    val predKey = Seq("route_id", "trip_id", "trip_start_date",
      "trip_start_time", "stop_sequence", "event_type")
    val work = dedupPredictionWork(vehicleUpdates(observations(spark, rtDir)),
      ttlMs = basisTtlMs)
    val predictionsQuery = work.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", s"$checkpointBase/predictions")
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[PredictionWork], _: Long) =>
        val preds = graft.predict.RealtimePredictions
          .fromWork(batch.toDF(), schedule, stats, now())
          // the reference's predictions upsert is plain replace-by-key;
          // the batch instant is the version for newest-write-wins
          .withColumn("computed_at", lit(now()))
        graft.sinks.UpsertSink.mergeIntoPartitioned(spark, preds,
          predictionsPath, predKey, versionCol = "computed_at",
          partitionCol = "trip_start_date")
        ()
      }
      .start()
    (recordsQuery, predictionsQuery)
  }

  /** Wire the full automatic-mode query: decode → records merge into a
    * parquet table + prediction work stream. Returns the started query.
    * `trigger` defaults to the reference's 5 s poll cadence. */
  def start(spark: SparkSession, rtDir: String, schedule: GtfsStatic.Schedule,
            recordsPath: String, checkpoint: String,
            source: String = "rt", scheduleFileName: String = "schedule",
            trigger: org.apache.spark.sql.streaming.Trigger =
              org.apache.spark.sql.streaming.Trigger.ProcessingTime("5 seconds"),
            pingHook: Option[PingListener] = None)
  : org.apache.spark.sql.streaming.StreamingQuery = {
    // S10: per-cycle health ping, rate-limited (reference ping_url)
    pingHook.foreach(spark.streams.addListener)
    val obs = observations(spark, rtDir)
    obs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[RtIngest.RtObservation], _: Long) =>
        val records = RtIngest.records(batch, schedule, source, scheduleFileName)
        // partition-scoped upsert: only the service days present in this
        // micro-batch are read, merged last-wins and rewritten — O(touched
        // partitions) per 5 s batch, not O(table) (S5; reference
        // per_schedule_importer.rs:404-456 batched upsert semantics)
        graft.sinks.UpsertSink.mergeIntoPartitionedRecords(spark, records, recordsPath)
        ()
      }
      .start()
  }
}
