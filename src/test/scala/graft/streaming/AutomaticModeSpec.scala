package graft.streaming

import graft.SparkSpec
import graft.analyse.StatisticsIO
import graft.gtfs.GtfsStatic
import graft.model.{OriginType, PrecisionType}
import graft.operators.GtfsPipeline
import graft.predict.RealtimePredictions
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.Timestamp

/** §3.1 automatic mode end to end: streamed vehicle updates → stateful
  * basis dedup → prediction work → ladder resolution, against curves
  * trained from the committed fixtures. */
class AutomaticModeSpec extends SparkSpec {

  test("startAutomatic: one call writes records AND predictions tables") {
    import graft.gtfs.GtfsRt._
    val schedule = GtfsStatic.read(spark, "fixtures/gtfs_tiny")
    val stats = StatisticsIO.computeAndSave(GtfsPipeline.records(spark),
      schedule, tempDir("auto2_stats").toString)
    val rtDir = tempDir("auto2_rt")
    def feed(name: String, ts: Long, seq: Int, stop: String, delay: Int): Unit =
      Files.write(rtDir.resolve(name), encode(FeedMessage(Some(ts), Seq(
        TripUpdate(TripDescriptor(Some("tA1"), None,
          startTime = Some("08:00:00"), startDate = Some("20240315")),
          Seq(StopTimeUpdate(Some(seq), Some(stop),
            Some(StopTimeEvent(Some(delay), None)),
            Some(StopTimeEvent(Some(delay), None))))))))) // delay in BOTH events
    feed("f1.pb", 1000L, 1, "s1", 120)
    feed("f2.pb", 2000L, 2, "s2", 144)

    val base = tempDir("auto2").toString
    val (qr, qp) = RtStream.startAutomatic(spark, rtDir.toString, schedule, stats,
      recordsPath = s"$base/records", predictionsPath = s"$base/predictions",
      checkpointBase = s"$base/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      basisTtlMs = 0,
      now = () => Timestamp.valueOf("2024-03-15 09:00:00"))
    qr.awaitTermination(120000)
    qp.awaitTermination(120000)

    val recs = spark.read.parquet(s"$base/records")
    assert(recs.count() > 0)
    val preds = spark.read.parquet(s"$base/predictions")
    assert(preds.count() > 0)
    assert(preds.select("origin_type").distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(OriginType.Realtime))
    // basis at stop 2 with delay: later stops resolve Specific via the sets
    assert(preds.filter(col("precision_type") === PrecisionType.Specific).count() > 0)
    // last-wins: at most one row per (trip, day, time, stop, event)
    val dup = preds.groupBy("trip_id", "trip_start_date", "trip_start_time",
      "stop_sequence", "event_type").count().filter(col("count") > 1).count()
    assert(dup == 0)
  }

  test("startAutomatic: restart on the same checkpoints resumes cleanly") {
    import graft.gtfs.GtfsRt._
    val schedule = GtfsStatic.read(spark, "fixtures/gtfs_tiny")
    val stats = StatisticsIO.computeAndSave(GtfsPipeline.records(spark),
      schedule, tempDir("auto3_stats").toString)
    val rtDir = tempDir("auto3_rt")
    def feed(name: String, ts: Long, seq: Int, stop: String, delay: Int): Unit =
      Files.write(rtDir.resolve(name), encode(FeedMessage(Some(ts), Seq(
        TripUpdate(TripDescriptor(Some("tA1"), None,
          startTime = Some("08:00:00"), startDate = Some("20240315")),
          Seq(StopTimeUpdate(Some(seq), Some(stop),
            Some(StopTimeEvent(Some(delay), None)),
            Some(StopTimeEvent(Some(delay), None)))))))))
    feed("f1.pb", 1000L, 1, "s1", 120)
    feed("f2.pb", 2000L, 2, "s2", 144)
    val base = tempDir("auto3").toString
    def runOnce(): Unit = {
      val (qr, qp) = RtStream.startAutomatic(spark, rtDir.toString, schedule, stats,
        recordsPath = s"$base/records", predictionsPath = s"$base/predictions",
        checkpointBase = s"$base/ckpt",
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
        basisTtlMs = 0,
        now = () => Timestamp.valueOf("2024-03-15 09:00:00"))
      qr.awaitTermination(120000); qp.awaitTermination(120000)
    }
    runOnce()
    val before = spark.read.parquet(s"$base/records")
      .select("trip_id", "stop_sequence", "delay_arrival").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    assert(before == Set(("tA1", 1, 120), ("tA1", 2, 144)))

    // a third feed lands; restart from the SAME checkpoints - the file
    // source must resume past f1/f2, the upsert stays last-wins
    feed("f3.pb", 3000L, 3, "s3", 168)
    runOnce()
    val after = spark.read.parquet(s"$base/records")
      .select("trip_id", "stop_sequence", "delay_arrival").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    assert(after == before + (("tA1", 3, 168))) // old rows intact, new row in
    // no duplicate record or prediction keys after the restart
    val recDup = spark.read.parquet(s"$base/records")
      .groupBy("trip_id", "trip_start_date", "trip_start_time", "stop_sequence")
      .count().filter(col("count") > 1).count()
    val predDup = spark.read.parquet(s"$base/predictions")
      .groupBy("trip_id", "trip_start_date", "trip_start_time",
        "stop_sequence", "event_type")
      .count().filter(col("count") > 1).count()
    assert(recDup == 0 && predDup == 0)
  }

  test("streamed updates produce deduped realtime predictions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val schedule = GtfsStatic.read(spark, "fixtures/gtfs_tiny")
    val stats = StatisticsIO.computeAndSave(GtfsPipeline.records(spark),
      schedule, tempDir("auto_stats").toString)

    val input = MemoryStream[RtStream.VehicleUpdate]
    val q = RtStream.dedupPredictionWork(input.toDS(), ttlMs = 0)
      .writeStream.format("memory").queryName("auto_work")
      .outputMode("update").start()
    // three micro-batches: initial basis, identical repeat (deduped),
    // advanced basis
    input.addData(
      RtStream.VehicleUpdate("tA1", "20240315", "08:00:00", "rA", 1, Some(120), 1000L))
    q.processAllAvailable()
    input.addData(
      RtStream.VehicleUpdate("tA1", "20240315", "08:00:00", "rA", 1, Some(120), 1500L))
    q.processAllAvailable()
    input.addData(
      RtStream.VehicleUpdate("tA1", "20240315", "08:00:00", "rA", 2, Some(144), 2000L))
    q.processAllAvailable()
    q.stop()

    val work = spark.table("auto_work")
    assert(work.count() == 2) // basis repeat was deduped

    val preds = RealtimePredictions.fromWork(work, schedule, stats,
      now = Timestamp.valueOf("2024-03-15 09:00:00")).cache()
    // work item 1 (basis stop 1): stops 2,3,4 x 2 events;
    // work item 2 (basis stop 2): stops 3,4 x 2 events
    assert(preds.count() == 6 + 4)
    assert(preds.select("origin_type").distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(OriginType.Realtime))
    assert(preds.filter(col("precision_type") === PrecisionType.Specific).count() > 0)
  }
}
