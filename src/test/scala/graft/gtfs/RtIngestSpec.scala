package graft.gtfs

import graft.SparkSpec
import GtfsRt._
import java.nio.file.{Files, Path}

/** End-to-end rt ingest: encoded protobuf fixtures -> binaryFile scan ->
  * decode -> schedule join -> records (covers FIXTURES.md §2's case list). */
class RtIngestSpec extends SparkSpec {

  private lazy val schedule = GtfsStatic.read(spark, "fixtures/gtfs_tiny")

  private def feed(ts: Long, updates: TripUpdate*): Array[Byte] =
    encode(FeedMessage(Some(ts), updates))

  private def stu(seq: Int, stop: String, arr: Option[Int], dep: Option[Int]) =
    StopTimeUpdate(Some(seq), Some(stop),
      arr.map(d => StopTimeEvent(Some(d), None)),
      dep.map(d => StopTimeEvent(Some(d), None)))

  private def trip(id: String, updates: StopTimeUpdate*) =
    TripUpdate(TripDescriptor(Some(id), None,
      startTime = Some("08:00:00"), startDate = Some("20240315")), updates)

  private lazy val rtDir: Path = {
    val dir = tempDir("rt_tiny")
    // t=1000: tA1 delays at stops 1,2; unknown trip; event with no delay at stop 3
    Files.write(dir.resolve("feed_2024-03-15T08-10-00.pb"), feed(1000L,
      trip("tA1",
        stu(1, "s1", Some(60), Some(90)),
        stu(2, "s2", Some(-120), None),
        stu(3, "s3", None, None)), // F4: dropped, no delay either side
      trip("ghost", stu(1, "s1", Some(5), Some(5))))) // J1: unknown trip dropped
    // t=2000: newer update for tA1 stop 2 (last-wins), new stop 4,
    // plus tB2 whose start_time exceeds 24 h
    Files.write(dir.resolve("feed_2024-03-15T08-20-00.pb"), feed(2000L,
      trip("tA1",
        stu(2, "s2", Some(-60), Some(-30)),
        stu(4, "s4", Some(300), Some(310))),
      TripUpdate(TripDescriptor(Some("tB2"), None,
        startTime = Some("24:10:00"), startDate = Some("20240315")),
        Seq(stu(2, "s7", Some(45), Some(50))))))
    dir
  }

  private lazy val recs = RtIngest.records(
    RtIngest.readFeeds(spark, rtDir.toString), schedule,
    source = "test", scheduleFileName = "gtfs_tiny.zip").cache()

  test("corrupt feed files are skipped, not fatal") {
    val dir = tempDir("rt_bad")
    Files.write(dir.resolve("good_2024-03-15T08-10-00.pb"), feed(1000L,
      trip("tA1", stu(1, "s1", Some(60), Some(90)))))
    // garbage bytes and a truncated valid feed, both undecodable
    Files.write(dir.resolve("bad_garbage.pb"),
      Array[Byte](0x7f, -1, -1, -1, 0x42, 0x13, 0x37))
    val valid = feed(2000L, trip("tA1", stu(2, "s2", Some(5), Some(5))))
    Files.write(dir.resolve("bad_truncated.pb"), valid.take(valid.length / 3))
    val obs = RtIngest.readFeeds(spark, dir.toString).collect()
    // the good file's observation survives; the corrupt ones yield nothing
    assert(obs.length == 1 && obs.head.trip_id == "tA1" &&
      obs.head.time_of_recording == 1000L)
  }

  test("records: join drops unknown trips, F4 drops no-delay events") {
    // tA1 stops 1,2,4 + tB2 stop 2 = 4 logical records
    assert(recs.count() == 4)
    assert(!recs.select("trip_id").collect().map(_.getString(0)).contains("ghost"))
  }

  test("records: last time_of_recording wins per (vehicle, stop)") {
    val stop2 = recs.filter("trip_id = 'tA1' and stop_sequence = 2").collect()
    assert(stop2.length == 1)
    val r = stop2.head
    assert(r.getAs[Int]("delay_arrival") == -60) // from the t=2000 feed
    assert(r.getAs[Int]("delay_departure") == -30)
    assert(r.getAs[java.sql.Timestamp]("time_of_recording").getTime == 2000000L)
  }

  test("records: schedule enrichment and GTFS >24h start times") {
    val b = recs.filter("trip_id = 'tB2'").collect().head
    assert(b.getAs[String]("route_id") == "rB")
    assert(b.getAs[Int]("trip_start_time") == 24 * 3600 + 10 * 60)
    assert(b.getAs[java.sql.Date]("trip_start_date").toString == "2024-03-15")
    assert(b.getAs[Long]("route_variant") ==
      schedule.tripsWithVariant.filter("trip_id = 'tB1'")
        .select("route_variant").collect().head.getLong(0))
  }

  test("as-of matcher assigns each rt file the newest not-newer schedule") {
    import spark.implicits._
    val rt = Seq("rt_2024-03-14.pb", "rt_2024-03-15.pb", "rt_2024-04-02.pb")
      .toDF("rt_file")
    val sched = Seq("sched_2024-03-01.zip", "sched_2024-03-15.zip", "sched_2024-05-01.zip")
      .toDF("schedule_file")
    val m = RtIngest.matchFilesToSchedules(rt, sched)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m == Map(
      "rt_2024-03-14.pb" -> "sched_2024-03-01.zip",
      "rt_2024-03-15.pb" -> "sched_2024-03-15.zip",
      "rt_2024-04-02.pb" -> "sched_2024-03-15.zip"))
  }
}
