package graft.analyse

import graft.SparkSpec
import java.nio.file.Files
import java.sql.Timestamp

class CountStatsSpec extends SparkSpec {

  test("count mode buckets records and joins rt-file stats (S8/A1)") {
    import spark.implicits._
    val records = Seq(
      (Timestamp.valueOf("2024-03-15 08:10:00"), Some(60)),
      (Timestamp.valueOf("2024-03-15 08:50:00"), Some(120)),
      (Timestamp.valueOf("2024-03-15 09:10:00"), Some(30)),
      (Timestamp.valueOf("2024-03-15 09:20:00"), Some(50000)), // F1: outside ±36000
      (Timestamp.valueOf("2024-03-15 09:30:00"), None))        // null kept, not averaged
      .toDF("time_of_recording", "delay_arrival")

    val rtDir = tempDir("count_rt")
    Files.write(rtDir.resolve("feed_2024-03-15T08-15-00.pb"), Array[Byte](1, 2, 3))
    Files.write(rtDir.resolve("feed_2024-03-15T08-45-00.pb"), Array[Byte](4, 5))
    Files.write(rtDir.resolve("feed_2024-03-15T09-05-00.pb"), Array[Byte](6))

    val report = CountStats.run(records, Some(rtDir.toString), 3600)
      .orderBy("time_min").collect()
    assert(report.length == 2)
    val h8 = report(0)
    assert(h8.getAs[Long]("count") == 2)
    assert(h8.getAs[Double]("avg") == 90.0)
    assert(h8.getAs[Long]("files") == 2)
    assert(h8.getAs[Long]("bytes") == 5)
    val h9 = report(1)
    assert(h9.getAs[Long]("count") == 2) // F1 dropped the 50000 row
    assert(h9.getAs[Double]("avg") == 30.0)
    assert(h9.getAs[Long]("files") == 1)

    val out = tempDir("count_csv")
    CountStats.writeCsv(CountStats.run(records, Some(rtDir.toString), 3600),
      out.resolve("report").toString)
    val csv = spark.read.option("sep", ";").option("header", "true")
      .csv(out.resolve("report").toString)
    assert(csv.count() == 2)
    assert(csv.columns.toSeq ==
      Seq("time_min", "time_max", "count", "avg", "files", "bytes"))
  }
}
