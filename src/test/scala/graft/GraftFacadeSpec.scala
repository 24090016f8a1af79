package graft

import graft.model.{EventType, OriginType}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The reference CLI flow end to end through the public facade:
  * import → analyse → predict (batch ladder AND single lookup), on the
  * committed fixtures — what a user switching from the reference runs. */
class GraftFacadeSpec extends SparkSpec {

  test("import -> analyse -> predict through the Graft facade") {
    val statsDir = tempDir("graft_stats").toString

    // import manual (one schedule version)
    val records = Graft.importFeeds(spark,
      "fixtures/rt_tiny", "fixtures/gtfs_tiny", source = "facade")
    assert(records.count() > 0)

    // analyse compute-curves --all
    val stats = Graft.analyse(records, "fixtures/gtfs_tiny", statsDir)
    assert(stats.defaults.count() == 11 * 3 * 11 * 2)
    assert(stats.general.count() > 0 && stats.curveSets.count() > 0)

    // predict start (scheduled horizon)
    val preds = Graft.predictScheduled(spark, statsDir, "fixtures/gtfs_tiny",
      java.time.LocalDate.of(2024, 3, 15), days = 1)
    assert(preds.count() > 0)
    assert(preds.select("origin_type").distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(OriginType.Schedule))

    // predict single: the interactive lookup answers from the same store
    val routeId = records.select("route_id").distinct().collect().head.getString(0)
    val pp = Graft.predictorFor(spark, statsDir, "fixtures/gtfs_tiny", routeId)
    val schedule = graft.gtfs.GtfsStatic.read(spark, "fixtures/gtfs_tiny")
    val sample = preds.filter(col("route_id") === routeId)
      .join(schedule.tripStops
        .select("trip_id", "stop_sequence", "stop_index", "stop_count"),
        Seq("trip_id", "stop_sequence"))
      .select("route_variant", "stop_index", "stop_count", "event_instant")
      .collect().head
    val answer = pp.predict(routeId, sample.getLong(0), sample.getInt(1),
      sample.getInt(2), None, None, EventType.Arrival,
      sample.getTimestamp(3).toLocalDateTime)
    assert(answer.nonEmpty && answer.get.curve.nonEmpty)
  }
}
