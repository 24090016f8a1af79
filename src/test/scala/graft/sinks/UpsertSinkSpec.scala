package graft.sinks

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.sql.DriverManager
import java.nio.file.Files

/** S5 upsert sink: last-wins semantics under batching and concurrency
  * (reference `batched_statements.rs:23-108`), and the partition-scoped
  * parquet merge touching only the service days in the batch. */
class UpsertSinkSpec extends SparkSpec {

  private def derbyUrl(name: String) = {
    val dir = tempDir("derby").toString
    s"jdbc:derby:$dir/$name;create=true"
  }

  private def createTable(url: String): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      conn.createStatement().executeUpdate(
        """CREATE TABLE records (
          |  trip_id VARCHAR(32) NOT NULL,
          |  stop_sequence INT NOT NULL,
          |  delay INT,
          |  time_of_recording BIGINT,
          |  PRIMARY KEY (trip_id, stop_sequence))""".stripMargin)
    } finally conn.close()
  }

  private def readAll(url: String): Map[(String, Int), (Int, Long)] = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(
        "SELECT trip_id, stop_sequence, delay, time_of_recording FROM records")
      val buf = scala.collection.mutable.Map[(String, Int), (Int, Long)]()
      while (rs.next()) {
        buf((rs.getString(1), rs.getInt(2))) = (rs.getInt(3), rs.getLong(4))
      }
      buf.toMap
    } finally conn.close()
  }

  test("jdbc upsert: newest time_of_recording wins across batches") {
    import spark.implicits._
    val url = derbyUrl("db1")
    createTable(url)
    val keys = Seq("trip_id", "stop_sequence")
    // batch 1: versions 100
    UpsertSink.jdbcUpsert(
      (0 until 10).map(i => ("t1", i, 60, 100L))
        .toDF("trip_id", "stop_sequence", "delay", "time_of_recording"),
      url, "records", keys, "time_of_recording", batchSize = 3)
    // batch 2: half newer (updates), half older (must NOT overwrite), plus
    // fresh keys (inserts)
    UpsertSink.jdbcUpsert(
      ((0 until 5).map(i => ("t1", i, 90, 200L)) ++
        (5 until 10).map(i => ("t1", i, 30, 50L)) ++
        (0 until 3).map(i => ("t2", i, 10, 100L)))
        .toDF("trip_id", "stop_sequence", "delay", "time_of_recording"),
      url, "records", keys, "time_of_recording", batchSize = 3)
    val got = readAll(url)
    assert(got.size == 13)
    (0 until 5).foreach(i => assert(got(("t1", i)) == ((90, 200L))))
    (5 until 10).foreach(i => assert(got(("t1", i)) == ((60, 100L)))) // older skipped
    (0 until 3).foreach(i => assert(got(("t2", i)) == ((10, 100L))))
  }

  test("jdbc upsert: concurrent batches converge to the newest version") {
    import spark.implicits._
    val url = derbyUrl("db2")
    createTable(url)
    val keys = Seq("trip_id", "stop_sequence")
    // two overlapping batches written concurrently: every key appears in
    // both with different versions; whichever order the race resolves in,
    // the guarded UPDATE + insert-retry must land on version 300
    val dfA = (0 until 50).map(i => ("t1", i, 1, 300L))
      .toDF("trip_id", "stop_sequence", "delay", "time_of_recording")
    val dfB = (0 until 50).map(i => ("t1", i, 2, 299L))
      .toDF("trip_id", "stop_sequence", "delay", "time_of_recording")
    val threads = Seq(dfA, dfB).map { d =>
      new Thread(() =>
        UpsertSink.jdbcUpsert(d, url, "records", keys, "time_of_recording", batchSize = 7))
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val got = readAll(url)
    assert(got.size == 50)
    got.values.foreach(v => assert(v == ((1, 300L))))
  }

  test("partitioned merge: null partition values still merge last-wins") {
    import spark.implicits._
    val path = tempDir("recs_null").toString + "/records"
    def batch(delay: Int, tor: Long) =
      Seq(("tN", Option.empty[java.sql.Date], 1, delay, new java.sql.Timestamp(tor * 1000)))
        .toDF("trip_id", "trip_start_date", "stop_sequence", "delay_arrival",
          "time_of_recording")
        .withColumn("source", lit("s")).withColumn("route_id", lit("r"))
        .withColumn("route_variant", lit(1L))
        .withColumn("trip_start_time", lit(0))
    UpsertSink.mergeIntoPartitionedRecords(spark, batch(10, 100), path)
    UpsertSink.mergeIntoPartitionedRecords(spark, batch(99, 200), path) // newer
    UpsertSink.mergeIntoPartitionedRecords(spark, batch(5, 50), path)   // older
    val out = spark.read.parquet(path).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Int]("delay_arrival") == 99) // newest version won
  }

  test("partitioned merge survives empty batches and a parquet-less table dir") {
    import spark.implicits._
    val path = tempDir("recs_empty").toString + "/records"
    def batch(rows: Seq[(String, Int, Long)]) =
      rows.toDF("trip_id", "stop_sequence", "tor")
        .select(col("trip_id"), col("stop_sequence"),
          (col("tor") * 1000).cast("timestamp").as("time_of_recording"))
        .withColumn("trip_start_date", lit(java.sql.Date.valueOf("2024-03-15")))
        .withColumn("source", lit("s")).withColumn("route_id", lit("r"))
        .withColumn("route_variant", lit(1L))
        .withColumn("trip_start_time", lit(0))
    // empty FIRST batch: must create nothing (an empty overwrite used to
    // leave a footer-less dir that crashed the next batch's read and with
    // it the whole automatic-mode stream)
    UpsertSink.mergeIntoPartitionedRecords(spark, batch(Nil), path)
    assert(!new java.io.File(path).exists(), "empty batch wrote a directory")
    // a parquet-less dir from a crash mid-commit must read as absent
    new java.io.File(path).mkdirs()
    UpsertSink.mergeIntoPartitionedRecords(spark, batch(Seq(("t1", 1, 100L))), path)
    // empty batch onto an existing table: no-op, table unchanged
    UpsertSink.mergeIntoPartitionedRecords(spark, batch(Nil), path)
    val out = spark.read.parquet(path).collect()
    assert(out.length == 1 && out.head.getAs[String]("trip_id") == "t1")
  }

  test("partitioned merge into a file: URI reads the rows already there") {
    import spark.implicits._
    val path = tempDir("recs_uri").toUri.toString + "records"
    def batch(stop: Int) =
      Seq(("tU", stop, 100L)).toDF("trip_id", "stop_sequence", "tor")
        .select(col("trip_id"), col("stop_sequence"),
          (col("tor") * 1000).cast("timestamp").as("time_of_recording"))
        .withColumn("trip_start_date", lit(java.sql.Date.valueOf("2024-03-15")))
        .withColumn("source", lit("s")).withColumn("route_id", lit("r"))
        .withColumn("route_variant", lit(1L))
        .withColumn("trip_start_time", lit(0))
    UpsertSink.mergeIntoPartitionedRecords(spark, batch(1), path)
    // same service day: the merge must keep stop 1, not overwrite the day
    UpsertSink.mergeIntoPartitionedRecords(spark, batch(2), path)
    assert(spark.read.parquet(path).count() == 2)
  }

  test("partitioned merge rewrites only the touched trip_start_date partitions") {
    import spark.implicits._
    val path = tempDir("recs").toString + "/records"
    def mkBatch(rows: Seq[(String, java.sql.Date, Int, Int, java.sql.Timestamp)]) =
      rows.toDF("trip_id", "trip_start_date", "stop_sequence", "delay_arrival",
          "time_of_recording")
        .withColumn("source", lit("s")).withColumn("route_id", lit("r"))
        .withColumn("route_variant", lit(1L))
        .withColumn("trip_start_time", lit(28800))
        .withColumn("stop_id", lit("x"))
        .withColumn("delay_departure", lit(null).cast("int"))
        .withColumn("schedule_file_name", lit("f"))
    val d1 = java.sql.Date.valueOf("2024-03-01")
    val d2 = java.sql.Date.valueOf("2024-03-02")
    val ts = (s: Long) => new java.sql.Timestamp(s * 1000)
    UpsertSink.mergeIntoPartitionedRecords(spark, mkBatch(Seq(
      ("tA", d1, 1, 10, ts(100)), ("tA", d2, 1, 20, ts(100)))), path)

    // snapshot the data files of the untouched d1 partition
    def partFiles(date: String) = {
      val dir = new java.io.File(s"$path/trip_start_date=$date")
      dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val d1Before = partFiles("2024-03-01")

    // second batch touches ONLY d2: newer row for (tA, d2, 1) + a fresh stop
    UpsertSink.mergeIntoPartitionedRecords(spark, mkBatch(Seq(
      ("tA", d2, 1, 99, ts(200)), ("tA", d2, 2, 5, ts(200)))), path)

    assert(partFiles("2024-03-01") == d1Before) // untouched partition intact
    val out = spark.read.parquet(path)
    assert(out.count() == 3)
    val d2row = out.filter(col("trip_start_date") === d2 && col("stop_sequence") === 1)
      .select("delay_arrival").collect().head.getInt(0)
    assert(d2row == 99) // last-wins within the touched partition
    assert(out.filter(col("trip_start_date") === d1)
      .select("delay_arrival").collect().head.getInt(0) == 10)
  }
}
