package graft.analyse

import graft.SparkSpec
import graft.gtfs.GtfsStatic
import graft.model.{EventType, PrecisionType, TimeSlot}
import graft.operators.GtfsPipeline
import graft.predict.Predictor
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.types.{StringType, StructType}
import java.nio.file.Files
import java.sql.{Date, Timestamp}

/** The statistics store's read side: declared schemas, string route ids,
  * empty tables and a load that submits no Spark job. */
class StatisticsIOSpec extends SparkSpec {

  private lazy val schedule = GtfsStatic.read(spark, "fixtures/gtfs_tiny")

  private lazy val fixtureDir = {
    val dir = tempDir("stats_io").toString
    StatisticsIO.computeAndSave(GtfsPipeline.records(spark), schedule, dir)
    dir
  }

  /** `declared` as a partitioned read lays it out: the partition column
    * last; nullability aside (file sources read every column nullable). */
  private def layout(declared: StructType, partitioned: Boolean): Seq[(String, String)] = {
    val (part, data) = declared.fields.partition(f => partitioned && f.name == "route_id")
    (data ++ part).toSeq.map(f => f.name -> f.dataType.catalogString)
  }

  private def fields(df: DataFrame): Seq[(String, String)] =
    df.schema.fields.toSeq.map(f => f.name -> f.dataType.catalogString)

  test("load declares the schemas parquet would infer, column order included") {
    val stats = StatisticsIO.load(spark, fixtureDir)
    def inferred(dir: String) = spark.read.parquet(s"$fixtureDir/$dir").schema
    assert(stats.general.schema == inferred(StatisticsIO.GeneralDir))
    assert(stats.curveSets.schema == inferred(StatisticsIO.CurveSetsDir))
    assert(stats.defaults.schema == inferred(StatisticsIO.DefaultDir))
    assert(stats.general.count() > 0 && stats.curveSets.count() > 0)
    assert(stats.defaults.count() == 11 * 3 * 11 * 2)
  }

  test("load submits no Spark job") {
    val dir = fixtureDir // written outside the count
    assert(jobsDuring(StatisticsIO.load(spark, dir)) == 0)
  }

  test("numeric route ids stay strings: routes 07 and 7 are two routes") {
    import spark.implicits._
    def row(route: String, n: Int) = GeneralCurveRow(route, 1L, 1, EventType.Arrival,
      TimeSlot.Default.id, PrecisionType.SemiSpecific, n,
      Seq(CurvePoint(0f, 0f), CurvePoint(60f, 1f)))
    val dir = tempDir("stats_numeric").toString
    StatisticsIO.save(dir, Seq(row("07", 30), row("7", 40)).toDF(),
      spark.emptyDataset[CurveSetRow].toDF(), spark.emptyDataset[DefaultCurveRow].toDF())
    val stats = StatisticsIO.load(spark, dir)
    assert(stats.general.schema("route_id").dataType == StringType)
    val routes = Seq(("07", 3), ("7", 3)).toDF("route_id", "route_type")
    def sampleSize(route: String): Option[Int] =
      Predictor.pointLookup(stats.general, stats.curveSets, stats.defaults, routes, Some(route))
        .predict(route, 1L, 1, 3, None, None, EventType.Arrival,
          java.time.LocalDateTime.of(2024, 3, 15, 8, 0))
        .map(_.sampleSize)
    assert(sampleSize("07").contains(30))
    assert(sampleSize("7").contains(40))
  }

  test("computeAndSave over zero records returns three empty tables with the declared schemas") {
    import spark.implicits._
    val records = Seq.empty[(String, String, String, Date, Int, Int, String, Timestamp,
      Option[Int], Option[Int])]
      .toDF("source", "route_id", "trip_id", "trip_start_date", "trip_start_time",
        "stop_sequence", "stop_id", "time_of_recording", "delay_arrival", "delay_departure")
      .join(GtfsStatic.routeVariants(schedule.trips, schedule.stopTimes), Seq("trip_id"))
    val stats = StatisticsIO.computeAndSave(records, schedule,
      tempDir("stats_empty").toString)
    assert(stats.general.count() == 0)
    assert(stats.curveSets.count() == 0)
    assert(stats.defaults.count() == 0)
    assert(fields(stats.general) == layout(Encoders.product[GeneralCurveRow].schema, true))
    assert(fields(stats.curveSets) == layout(Encoders.product[CurveSetRow].schema, true))
    assert(fields(stats.defaults) == layout(Encoders.product[DefaultCurveRow].schema, false))
  }
}
