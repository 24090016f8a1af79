package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming anomaly monitor: hours close exactly once in event-time
  * order as the watermark passes, the z chain matches the batch q118
  * query bit-for-bit, and state stays bounded. */
class AnomalyStreamSpec extends SparkSpec {

  private val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
  private def at(h: Int, m: Int = 0) =
    new java.sql.Timestamp(base.getTime + h * 3600L * 1000 + m * 60000L)

  // type A: alternating 2/3 per hour for hours 0-24, spike of 80 at 25
  private def fixture: Seq[(String, java.sql.Timestamp)] =
    (0 until 25).flatMap(h =>
      Seq.fill(if (h % 2 == 0) 2 else 3)(("A", at(h, 10)))) ++
      Seq.fill(80)(("A", at(25, 10)))

  test("hours close once, in order, and the spike's z matches the batch chain") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, java.sql.Timestamp)]
    val out = AnomalyStream.hourScores(input.toDS().toDF("event_type", "ts"))
      .writeStream.format("memory").queryName("anom")
      .outputMode("append").start()
    def rows() = spark.table("anom").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getInt(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
      .sortBy(_._2.getTime)

    // two uneven chunks, then a pusher event far ahead to advance the
    // watermark past the spike hour
    val all = fixture
    input.addData(all.take(37))
    out.processAllAvailable()
    input.addData(all.drop(37))
    out.processAllAvailable()
    input.addData(("A", at(40)))
    out.processAllAvailable()
    val got = rows()
    // hours 0..39 closed exactly once each, ascending — 26..39 are the
    // DENSIFIED zero hours the watermark passed with no events
    assert(got.map(_._2).toSeq == (0 to 39).map(h => at(h, 0)).toSeq)
    assert(got.map(_._3).toSeq ==
      ((0 until 25).map(h => if (h % 2 == 0) 2L else 3L) :+ 80L) ++
        Seq.fill(14)(0L))
    // warm-up hours carry their partial base size and no z beyond 24
    assert(got.take(24).map(_._4).toSeq == (0 until 24))
    // the spike hour: n_base 24, z = the exact batch chain
    val spike = got(25)
    val counts = (1 to 24).map(h => if (h % 2 == 0) 2.0 else 3.0)
    val sx = counts.sum; val sxx = counts.map(c => c * c).sum
    val variance = (sxx - sx * sx / 24) / 24
    val z = (80.0 - sx / 24) / math.sqrt(variance)
    assert(spike._4 == 24 && spike._5.contains(z))
    out.stop()
  }

  test("streaming flagged hours equal the batch q118 on the same data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(5)
    val events = (0 until 30).flatMap { h =>
      val c = if (h == 27) 60 else 3 + rnd.nextInt(3)
      Seq.fill(c)(("B", at(h, 30)))
    }
    // batch side: the registered q118 over the same rows INCLUDING the
    // watermark pusher, so both engines densify the same hour axis;
    // compare on the hours the stream actually closed (< pusher hour)
    val dir = tempDir("graft-anomb").toString
    (events :+ (("B", at(45)))).zipWithIndex
      .map { case ((t, ts), i) => (i.toLong, ts, i.toLong % 5, t, 1.0, "p") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = graft.operators.RelationalQueries.registry("q118_hourly_anomaly")
      .build(spark, dir).collect()
      .map(r => (r.getTimestamp(1), r.getLong(2), r.getDouble(4)))
      .filter(_._1.getTime < at(45).getTime).toSet
    // streaming side: all data, then the watermark pusher
    val input = MemoryStream[(String, java.sql.Timestamp)]
    val out = AnomalyStream.hourScores(input.toDS().toDF("event_type", "ts"))
      .writeStream.format("memory").queryName("anom_batch_twin")
      .outputMode("append").start()
    input.addData(events)
    out.processAllAvailable()
    input.addData(("B", at(45)))
    out.processAllAvailable()
    val streamed = spark.table("anom_batch_twin").collect()
      .map(r => (r.getTimestamp(1), r.getLong(2), r.getInt(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
      .collect { case (h, c, 24, Some(z)) if math.abs(z) >= 3 => (h, c, z) }
      .toSet
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    out.stop()
  }

  test("a dying feed's silent hours close with zero counts and flag z << 0") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // type D: alternating 9/11 events per hour (variance 1) for hours
    // 0..29, then SILENCE; type P is the only thing advancing the
    // watermark afterwards — the exact scenario the hour-densification
    // exists for (pre-fix, type D simply vanished from the monitor)
    val dying = (0 until 30).flatMap(h =>
      Seq.fill(if (h % 2 == 0) 9 else 11)(("D", at(h, 10))))
    val input = MemoryStream[(String, java.sql.Timestamp)]
    val out = AnomalyStream.hourScores(input.toDS().toDF("event_type", "ts"))
      .writeStream.format("memory").queryName("anom_dying")
      .outputMode("append").start()
    input.addData(dying)
    out.processAllAvailable()
    input.addData(("P", at(40)))
    out.processAllAvailable()
    val d = spark.table("anom_dying").collect()
      .filter(_.getString(0) == "D")
      .map(r => (r.getTimestamp(1), r.getLong(2), r.getInt(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
      .sortBy(_._1.getTime)
    // hours 30..38 closed for D with ZERO counts even though no D event
    // arrived after hour 29 (wm = 40:00 closes through hour 39)
    assert(d.map(_._1).toSeq == (0 to 39).map(h => at(h, 0)).toSeq)
    assert(d.drop(30).forall(_._2 == 0L))
    // the first silent hour scores deeply negative against the live
    // baseline: mean 10, sigma 1 → z = -10
    val first = d(30)
    assert(first._3 == 24 && first._4.exists(_ <= -3.0),
      s"first silent hour not flagged: $first")
    out.stop()
  }
}
