package graft.streaming

import graft.SparkSpec
import graft.gtfs.{GtfsRt, GtfsStatic, RtIngest}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

class RtStreamSpec extends SparkSpec {

  test("stateful prediction-basis dedup: identical basis is skipped, changes emit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[RtStream.VehicleUpdate]
    val out = RtStream.dedupPredictionWork(input.toDS(), ttlMs = 0)
      .writeStream.format("memory").queryName("work")
      .outputMode("update").start()

    def work() = spark.table("work").as[RtStream.PredictionWork].collect()

    input.addData(RtStream.VehicleUpdate("t1", "20240315", "08:00:00", "rA", 2, Some(60), 1000L))
    out.processAllAvailable()
    assert(work().length == 1)
    assert(work().head.basis_stop_sequence == 2)

    // same basis again -> deduped
    input.addData(RtStream.VehicleUpdate("t1", "20240315", "08:00:00", "rA", 2, Some(60), 1500L))
    out.processAllAvailable()
    assert(work().length == 1)

    // vehicle advanced -> new work; other vehicle -> its own first work
    input.addData(
      RtStream.VehicleUpdate("t1", "20240315", "08:00:00", "rA", 3, Some(90), 2000L),
      RtStream.VehicleUpdate("t2", "20240315", "09:00:00", "rA", 1, Some(0), 2000L))
    out.processAllAvailable()
    val w = work()
    assert(w.length == 3)
    assert(w.count(_.trip_id == "t1") == 2)
    out.stop()
  }

  test("windowed delay stats: watermark finalizes windows in append mode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1699999800L // multiple of 300 s: aligned to the 5-min windows
    def ob(ts: Long, delay: Int) = RtIngest.RtObservation(
      "f", ts, "t1", Some("rA"), Some("20240315"), Some("08:00:00"),
      Some(1), Some("s1"), None, Some(delay))
    val input = MemoryStream[RtIngest.RtObservation]
    val out = RtStream.windowedDelayStats(input.toDS(),
        windowLength = "5 minutes", lateness = "1 minutes")
      .writeStream.format("memory").queryName("winstats")
      .outputMode("append").start()

    // batch 1: three updates inside one 5-min window
    input.addData(ob(t0 + 10, 60), ob(t0 + 20, 120), ob(t0 + 250, 30))
    out.processAllAvailable()
    // window not finalized yet: nothing emitted in append mode
    assert(spark.table("winstats").count() == 0)

    // batch 2: an event far past the window advances the watermark
    input.addData(ob(t0 + 1200, 0))
    out.processAllAvailable()
    val rows = spark.table("winstats").collect()
    assert(rows.length == 1) // first window finalized, second still open
    val r = rows.head
    assert(r.getAs[Long]("n_updates") == 3)
    assert(r.getAs[Double]("avg_delay_departure") == 70.0)
    assert(r.getAs[Int]("max_delay_departure") == 120)

    // a late event for the closed window is DROPPED by the watermark
    input.addData(ob(t0 + 30, 999), ob(t0 + 1500, 0))
    out.processAllAvailable()
    val after = spark.table("winstats").collect()
    assert(!after.exists(_.getAs[Int]("max_delay_departure") == 999))
    out.stop()
  }

  test("vehicleUpdates picks the latest feed and furthest stop per vehicle") {
    import spark.implicits._
    val obs = Seq(
      RtIngest.RtObservation("f1", 1000L, "t1", Some("rA"), Some("20240315"), Some("08:00:00"),
        Some(1), Some("s1"), None, Some(30)),
      RtIngest.RtObservation("f1", 1000L, "t1", Some("rA"), Some("20240315"), Some("08:00:00"),
        Some(2), Some("s2"), Some(45), Some(50)),
      RtIngest.RtObservation("f0", 500L, "t1", Some("rA"), Some("20240315"), Some("08:00:00"),
        Some(3), Some("s3"), Some(99), Some(99))).toDS()
    val u = RtStream.vehicleUpdates(obs).collect()
    assert(u.length == 1)
    // stop 3 came from an OLDER feed; latest feed's furthest stop is 2
    assert(u.head.stop_sequence == 2 && u.head.delay_departure.contains(50))
  }

  test("streaming decode + foreachBatch merge produces a last-wins records table") {
    val schedule = GtfsStatic.read(spark, "fixtures/gtfs_tiny")
    val rtDir = tempDir("rt_stream")
    val outDir = tempDir("rt_out")
    val recordsPath = outDir.resolve("records").toString
    val checkpoint = outDir.resolve("ckpt").toString

    def feedFile(name: String, ts: Long, delay: Int): Unit =
      Files.write(rtDir.resolve(name), GtfsRt.encode(GtfsRt.FeedMessage(Some(ts), Seq(
        GtfsRt.TripUpdate(
          GtfsRt.TripDescriptor(Some("tA1"), None,
            startTime = Some("08:00:00"), startDate = Some("20240315")),
          Seq(GtfsRt.StopTimeUpdate(Some(2), Some("s2"),
            Some(GtfsRt.StopTimeEvent(Some(delay), None)), None)))))))

    feedFile("feed1.pb", 1000L, 60)
    feedFile("feed2.pb", 2000L, 120) // newer recording, same logical record

    val q = RtStream.start(spark, rtDir.toString, schedule, recordsPath,
      checkpoint, trigger = Trigger.AvailableNow())
    q.awaitTermination(60000)

    val recs = spark.read.parquet(recordsPath)
    assert(recs.count() == 1) // last-wins merged the two files
    assert(recs.select("delay_arrival").collect().head.getInt(0) == 120)
  }
}
