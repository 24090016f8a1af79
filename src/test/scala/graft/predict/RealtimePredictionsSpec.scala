package graft.predict

import graft.SparkSpec
import graft.analyse.StatisticsIO
import graft.gtfs.{GtfsStatic, RtIngest}
import graft.model.{OriginType, PrecisionType}
import graft.operators.GtfsPipeline
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.Timestamp

/** Realtime-basis predictions over the committed fixtures: records from the
  * 40 rt feeds train the curves, then a basis work item for tA1 at stop 1
  * fans out Specific predictions for the later stops. */
class RealtimePredictionsSpec extends SparkSpec {

  private lazy val schedule = GtfsStatic.read(spark, "fixtures/gtfs_tiny")

  private lazy val stats = {
    val dir = tempDir("rt_stats").toString
    StatisticsIO.computeAndSave(GtfsPipeline.records(spark), schedule, dir)
  }

  private lazy val work = {
    import spark.implicits._
    Seq(("tA1", "20240315", "08:00:00", "rA", 1, Some(120), 1710489900L))
      .toDF("trip_id", "trip_start_date", "trip_start_time", "route_id",
        "basis_stop_sequence", "basis_delay", "time_of_recording")
  }

  test("basis work fans out to later stops with Specific precision where trained") {
    val preds = RealtimePredictions.fromWork(work, schedule, stats,
      now = Timestamp.valueOf("2024-03-15 09:00:00")).cache()
    // 3 later stops x 2 event types
    assert(preds.count() == 6)
    assert(preds.select("origin_type").distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(OriginType.Realtime))
    // trained arrival pairs (slot 3 weekday morning) resolve Specific
    val arrSpecific = preds.filter(col("event_type") === 1 &&
      col("precision_type") === PrecisionType.Specific)
    assert(arrSpecific.count() > 0)
    // curves respect the 120-point serialization cap (C13)
    assert(preds.filter(size(col("prediction_curve")) > 120).count() == 0)
    // support contains the basis-shifted expectation (delay 120 -> ~168 at s4)
    val s4arr = preds.filter(col("stop_sequence") === 4 && col("event_type") === 1)
      .select("prediction_curve").collect().head
      .getAs[scala.collection.Seq[org.apache.spark.sql.Row]](0)
    assert(s4arr.head.getFloat(0) <= 168f && s4arr.last.getFloat(0) >= 168f)
  }

  test("F10: trips started more than 12h before now are skipped") {
    val preds = RealtimePredictions.fromWork(work, schedule, stats,
      now = Timestamp.valueOf("2024-03-16 09:00:00"))
    assert(preds.count() == 0)
  }
}
