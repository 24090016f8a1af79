package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.analyse.{DelayAnalysis, StatisticsIO}
import graft.gtfs.{GtfsStatic, RtIngest}
import graft.predict.{PointPredictor, Predictor, RealtimePredictions, ScheduledPredictions}

/** The library facade: one entry point per reference CLI verb, so a user
  * of the reference can switch by mapping each command to a call
  * (reference `src/main.rs` subcommand tree):
  *
  * | reference command                  | here |
  * |------------------------------------|------|
  * | `import manual/batch <dirs>`       | [[importFeeds]] / [[importMultiSchedule]] |
  * | `import automatic <dir>`           | [[importAutomatic]] (Structured Streaming) |
  * | `analyse compute-curves --all`     | [[analyse]] |
  * | `analyse count <dir>`              | `analyse.CountStats` |
  * | `predict single …`                 | [[predictorFor]] → `PointPredictor.predict` |
  * | `predict start` (scheduled batch)  | [[predictScheduled]] |
  * | (importer realtime predictions)    | [[predictRealtime]] |
  * | `monitor` (board/journey data)     | `monitor.Monitor` / `monitor.JourneyData` |
  *
  * Everything returns DataFrames / plain values; callers compose them with
  * their own session. Rendering (HTML/PNG) is out of engine scope — the
  * monitor objects expose the underlying data relations.
  */
object Graft {

  /** `import manual/batch`: decode a directory of GTFS-RT feeds against one
    * schedule and build the last-wins records table (SURVEY §3.1). */
  def importFeeds(spark: SparkSession, rtDir: String, scheduleDir: String,
                  source: String): DataFrame = {
    val schedule = GtfsStatic.read(spark, scheduleDir)
    RtIngest.records(RtIngest.readFeeds(spark, rtDir), schedule,
      source, scheduleFileName = scheduleDir.split('/').last)
  }

  /** `import batch` across schedule versions: each rt file is as-of matched
    * to the newest schedule not newer than it (S4/J10). */
  def importMultiSchedule(spark: SparkSession, rtDir: String,
                          scheduleDirs: Seq[String], source: String): DataFrame = {
    val schedules = scheduleDirs.map(d =>
      d.split('/').last -> GtfsStatic.read(spark, d)).toMap
    RtIngest.recordsMultiSchedule(spark, rtDir, schedules, source)
  }

  /** `import automatic`: the 5 s directory poller as Structured Streaming;
    * micro-batches upsert into the partitioned records table (S3/S5). */
  def importAutomatic(spark: SparkSession, rtDir: String, scheduleDir: String,
                      recordsPath: String, checkpoint: String,
                      pingHook: Option[streaming.PingListener] = None)
  : org.apache.spark.sql.streaming.StreamingQuery =
    streaming.RtStream.start(spark, rtDir,
      GtfsStatic.read(spark, scheduleDir), recordsPath, checkpoint,
      pingHook = pingHook)

  /** The COMPLETE automatic mode: records upsert + stateful basis dedup +
    * realtime ladder predictions upsert, from one call (returns both
    * streaming queries). */
  def importAutomaticWithPredictions(spark: SparkSession, rtDir: String,
                                     scheduleDir: String, statsDir: String,
                                     recordsPath: String, predictionsPath: String,
                                     checkpointBase: String)
  : (org.apache.spark.sql.streaming.StreamingQuery,
     org.apache.spark.sql.streaming.StreamingQuery) =
    streaming.RtStream.startAutomatic(spark, rtDir,
      GtfsStatic.read(spark, scheduleDir), StatisticsIO.load(spark, statsDir),
      recordsPath, predictionsPath, checkpointBase)

  /** `analyse compute-curves --all`: records → the three statistics tables,
    * persisted under `statsDir` partitioned by route_id (§3.2). */
  def analyse(records: DataFrame, scheduleDir: String,
              statsDir: String): StatisticsIO.Statistics = {
    val schedule = GtfsStatic.read(records.sparkSession, scheduleDir)
    StatisticsIO.computeAndSave(records, schedule, statsDir)
  }

  /** `predict single`: build the interactive point-lookup for one route
    * (partition-pruned statistics load; reference `run_single`). Loading
    * the statistics runs no Spark job (their schemas are declared, see
    * [[StatisticsIO]]); the jobs are the lookup's own collects. */
  def predictorFor(spark: SparkSession, statsDir: String, scheduleDir: String,
                   routeId: String): PointPredictor = {
    val stats = StatisticsIO.load(spark, statsDir)
    val schedule = GtfsStatic.read(spark, scheduleDir)
    Predictor.pointLookup(stats.general, stats.curveSets, stats.defaults,
      schedule.routes, Some(routeId))
  }

  /** Scheduled (basis-less) predictions for every trip in the horizon
    * (§3.3 / §2.8 forward fill; resumes from the A12 watermark). */
  def predictScheduled(spark: SparkSession, statsDir: String, scheduleDir: String,
                       from: java.time.LocalDate, days: Int,
                       existing: Option[DataFrame] = None): DataFrame = {
    val stats = StatisticsIO.load(spark, statsDir)
    val schedule = GtfsStatic.read(spark, scheduleDir)
    val wm = existing.flatMap(ScheduledPredictions.watermark)
    ScheduledPredictions.generate(spark, schedule, stats, from, days, wm)
  }

  /** Realtime-basis predictions from basis-change work items (the streaming
    * dedup's output; §3.1 step 7). */
  def predictRealtime(work: DataFrame, statsDir: String, scheduleDir: String,
                      now: java.sql.Timestamp): DataFrame = {
    val spark = work.sparkSession
    val stats = StatisticsIO.load(spark, statsDir)
    val schedule = GtfsStatic.read(spark, scheduleDir)
    RealtimePredictions.fromWork(work, schedule, stats, now)
  }
}
