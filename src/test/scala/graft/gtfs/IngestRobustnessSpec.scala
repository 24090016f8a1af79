package graft.gtfs

import graft.SparkSpec
import GtfsRt._
import org.apache.spark.sql.{DataFrame, Row}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** GTFS-RT ingest on repeated, duplicated and empty inputs: the records
  * table depends on the feeds' content only, and a feed without
  * observations adds nothing and fails nothing. */
class IngestRobustnessSpec extends SparkSpec {

  private lazy val schedule = GtfsStatic.read(spark, "fixtures/gtfs_tiny")

  private def stu(seq: Int, stop: String, arr: Option[Int], dep: Option[Int]) =
    StopTimeUpdate(Some(seq), Some(stop),
      arr.map(d => StopTimeEvent(Some(d), None)),
      dep.map(d => StopTimeEvent(Some(d), None)))

  private def feed(ts: Long, tripId: String, updates: StopTimeUpdate*): Array[Byte] =
    encode(FeedMessage(Some(ts), Seq(TripUpdate(TripDescriptor(Some(tripId), None,
      startTime = Some("08:00:00"), startDate = Some("20240315")), updates))))

  /** Two feeds of tA1, the second superseding one stop of the first. */
  private def writeFeeds(dir: Path): Unit = {
    Files.write(dir.resolve("feed_2024-03-15T08-10-00.pb"),
      feed(1000L, "tA1", stu(1, "s1", Some(60), Some(90)), stu(2, "s2", Some(-120), None)))
    Files.write(dir.resolve("feed_2024-03-15T08-20-00.pb"),
      feed(2000L, "tA1", stu(2, "s2", Some(-60), Some(-30)), stu(4, "s4", Some(300), Some(310))))
  }

  private def records(dir: Path): DataFrame =
    RtIngest.records(RtIngest.readFeeds(spark, dir.toString), schedule, "test", "gtfs_tiny")

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  private lazy val feedDir: Path = { val d = tempDir("robust_rt"); writeFeeds(d); d }
  private lazy val expected: Seq[Row] = sorted(records(feedDir))

  test("importing the same feed directory twice gives an identical records table") {
    assert(expected.size == 3)
    assert(sorted(records(feedDir)) == expected)
    val out = tempDir("robust_twice")
    records(feedDir).write.parquet(out.resolve("a").toString)
    records(feedDir).write.parquet(out.resolve("b").toString)
    assert(sorted(spark.read.parquet(out.resolve("a").toString)) ==
      sorted(spark.read.parquet(out.resolve("b").toString)))
  }

  test("a byte-identical copy of a feed under another name gives the same table") {
    val dir = tempDir("robust_copy")
    writeFeeds(dir)
    Files.copy(dir.resolve("feed_2024-03-15T08-20-00.pb"),
      dir.resolve("copy_of_feed_2024-03-15T08-20-00.pb"))
    assert(sorted(records(dir)) == expected)
  }

  test("a 0-byte feed and a header-only feed give zero observations, not a failure") {
    val empty = tempDir("robust_empty")
    Files.write(empty.resolve("empty_2024-03-15T08-15-00.pb"), Array.emptyByteArray)
    val headerOnly = tempDir("robust_header")
    Files.write(headerOnly.resolve("header_2024-03-15T08-15-00.pb"),
      encode(FeedMessage(Some(1500L), Nil)))
    Seq(empty, headerOnly).foreach { d =>
      assert(RtIngest.readFeeds(spark, d.toString).count() == 0)
      assert(records(d).count() == 0)
    }
    // next to real feeds, neither changes the batch's table
    val mixed = tempDir("robust_mixed")
    writeFeeds(mixed)
    Files.copy(empty.resolve("empty_2024-03-15T08-15-00.pb"),
      mixed.resolve("empty_2024-03-15T08-15-00.pb"))
    Files.copy(headerOnly.resolve("header_2024-03-15T08-15-00.pb"),
      mixed.resolve("header_2024-03-15T08-15-00.pb"))
    assert(sorted(records(mixed)) == expected)
  }

  test("a multi-schedule import holds its decoded feeds in one memo entry per snapshot") {
    val sched = tempDir("robust_sched").resolve("sched_2024-03-01")
    Files.createDirectories(sched)
    Files.list(Paths.get("fixtures/gtfs_tiny")).forEach(f =>
      Files.copy(f, sched.resolve(f.getFileName.toString), StandardCopyOption.REPLACE_EXISTING))
    val schedules = Map("sched_2024-03-01" -> GtfsStatic.read(spark, sched.toString))
    val dir = tempDir("robust_multi")
    writeFeeds(dir)
    def kind = graft.operators.SharedRelations.byKind.find(_.kind == "rtobs").get
    def run() = RtIngest.recordsMultiSchedule(spark, dir.toString, schedules, "test")
      .drop("schedule_file_name")
    val first = sorted(run())
    assert(first == expected.map(r => Row.fromSeq(r.toSeq.dropRight(1)))
      .sortBy(_.toString))
    val (hits, misses) = (kind.hits, kind.misses)
    val persisted = spark.sparkContext.getPersistentRDDs.size
    // the same directory again: one hit, no new persistent RDD
    assert(sorted(run()) == first)
    assert(kind.hits == hits + 1 && kind.misses == misses)
    assert(spark.sparkContext.getPersistentRDDs.size == persisted)
    // a rewritten feed directory is decoded afresh
    Files.write(dir.resolve("feed_2024-03-15T08-30-00.pb"),
      feed(3000L, "tA1", stu(3, "s3", Some(200), Some(210))))
    val after = run()
    assert(kind.misses == misses + 1)
    assert(after.count() == 4)
  }
}
