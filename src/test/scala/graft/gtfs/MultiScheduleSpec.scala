package graft.gtfs

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** §3.1 multi-schedule batching: rt files split by the as-of matcher, each
  * batch joined against ITS schedule version (route_variant proves which
  * schedule served the join). */
class MultiScheduleSpec extends SparkSpec {

  private def copySchedule(to: Path): Unit = {
    Files.createDirectories(to)
    val src = Paths.get("fixtures/gtfs_tiny")
    Files.list(src).forEach(f =>
      Files.copy(f, to.resolve(f.getFileName.toString), StandardCopyOption.REPLACE_EXISTING))
  }

  test("records are built against the as-of-matched schedule version") {
    val base = tempDir("multi_sched")
    val v1 = base.resolve("sched_2024-03-01")
    val v2 = base.resolve("sched_2024-03-20")
    copySchedule(v1)
    copySchedule(v2)
    // v2 shortens tA1 to 3 stops -> different route_variant for the trip
    val st = v2.resolve("stop_times.txt")
    val lines = Files.readAllLines(st)
    val filtered = new java.util.ArrayList[String]()
    lines.forEach(l => if (!(l.startsWith("tA1") && l.endsWith(",4"))) filtered.add(l))
    Files.write(st, filtered)

    val rtDir = tempDir("multi_rt")
    def feed(name: String, ts: Long): Unit =
      Files.write(rtDir.resolve(name), GtfsRt.encode(GtfsRt.FeedMessage(Some(ts), Seq(
        GtfsRt.TripUpdate(
          GtfsRt.TripDescriptor(Some("tA1"), None,
            startTime = Some("08:00:00"), startDate = Some("20240310")),
          Seq(GtfsRt.StopTimeUpdate(Some(2), Some("s2"),
            Some(GtfsRt.StopTimeEvent(Some(60), None)), None)))))))
    feed("feed_2024-03-10T08-10-00.pb", 1000L) // matches v1
    feed("feed_2024-03-25T08-10-00.pb", 2000L) // matches v2

    val schedules = Map(
      "sched_2024-03-01" -> GtfsStatic.read(spark, v1.toString),
      "sched_2024-03-20" -> GtfsStatic.read(spark, v2.toString))
    val recs = RtIngest.recordsMultiSchedule(spark, rtDir.toString, schedules, "multi")
      .select("schedule_file_name", "route_variant").collect()
    assert(recs.length == 2)
    val byFile = recs.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byFile.keySet == Set("sched_2024-03-01", "sched_2024-03-20"))
    // the shortened v2 trip has a different variant id than v1's full run
    assert(byFile("sched_2024-03-01") != byFile("sched_2024-03-20"))

    // scale shape: the file->schedule assignment is JOINED, never collected
    // into isin() literals — no giant In(rt_file, [...]) in the plan
    val plan = RtIngest.recordsMultiSchedule(spark, rtDir.toString, schedules, "multi")
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("rt_file IN ("), "assignment must be a join, not isin literals")
    assert(plan.toLowerCase.contains("join"))
  }
}
