package graft.streaming

import graft.SparkSpec
import graft.analyse.StatisticsIO
import graft.gtfs.GtfsStatic
import graft.operators.{AnnQueries, CurationQueries, DedupQueries, GtfsPipeline}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.Timestamp

/** The composed deployment (r9 verdict task #4): ONE SparkSession runs
  * the complete automatic mode (records + predictions,
  * [[RtStream.startAutomatic]]) AND the three streamed index sinks
  * (BM25, prefix-dedup, sign-LSH ANN — each on its auto-compaction
  * cadence) CONCURRENTLY. Every surface must end exactly as its
  * isolated twin would: the co-residency shares one scheduler and one
  * shuffle service but no state, so interference may cost latency
  * (measured once, PERF.md r10), never correctness. */
class ComposedStreamSpec extends SparkSpec {

  private def relRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  test("automatic mode + three index sinks co-resident in one session") {
    import graft.gtfs.GtfsRt._
    import spark.implicits._
    val base = tempDir("graft-composed").toString

    // ── the three index stores (tiny corpora; auto-cadence = 2 so at
    // least one compaction fires DURING the composed run) ──
    def doc(id: Long, tag: String) =
      (id, (0 until 8).map(j => s"$tag$j").mkString(" "))
    val bm25Path = s"$base/bm25ix"
    val prefixPath = s"$base/prefixix"
    val annPath = s"$base/annix"
    val prefixBase = (0L until 12L).map(i => doc(i, s"b${i / 3}_"))
    DocStream.initPrefixIndexStore(
      prefixBase.toDF("doc_id", "text"), prefixPath, 0.5)
    def vec(id: Long): (Long, Seq[Float]) =
      (id, (0 until 8).map(d =>
        (if (d == (id % 8).toInt) 10f else 0f) + ((id * 7 + d) % 5) * 0.1f))
    val annBase = (0L until 40L).map(vec)
    AnnStream.initAnnIndexStore(annBase.toDF("vec_id", "embedding"),
      annPath, targetOccupancy = 8)

    implicit val sqlCtx = spark.sqlContext
    val bmIn = MemoryStream[(Long, String)]
    val pxIn = MemoryStream[(Long, String)]
    val annIn = MemoryStream[(Long, Seq[Float])]
    def go(df: DataFrame, name: String, sink: (DataFrame, Long) => Unit) =
      df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", s"$base/ckpt-$name").start()
    val bmQ = go(bmIn.toDS().toDF("doc_id", "text"), "bm25",
      DocStream.bm25IndexSink(bm25Path, autoCompactEvery = 2))
    val pxQ = go(pxIn.toDS().toDF("doc_id", "text"), "prefix",
      DocStream.prefixIndexSink(prefixPath, 0.5, autoCompactEvery = 2))
    val annQ = go(annIn.toDS().toDF("vec_id", "embedding"), "ann",
      AnnStream.annIndexSink(annPath, targetOccupancy = 8,
        autoCompactEvery = 2))

    // ── the automatic mode on the committed GTFS fixture, started
    // while the index streams are live ──
    val schedule = GtfsStatic.read(spark, "fixtures/gtfs_tiny")
    val stats = StatisticsIO.computeAndSave(GtfsPipeline.records(spark),
      schedule, s"$base/stats")
    val rtDir = tempDir("graft-composed-rt")
    def feed(name: String, ts: Long, seq: Int, stop: String, delay: Int): Unit =
      Files.write(rtDir.resolve(name), encode(FeedMessage(Some(ts), Seq(
        TripUpdate(TripDescriptor(Some("tA1"), None,
          startTime = Some("08:00:00"), startDate = Some("20240315")),
          Seq(StopTimeUpdate(Some(seq), Some(stop),
            Some(StopTimeEvent(Some(delay), None)),
            Some(StopTimeEvent(Some(delay), None)))))))))
    feed("f1.pb", 1000L, 1, "s1", 120)
    feed("f2.pb", 2000L, 2, "s2", 144)
    val (qr, qp) = RtStream.startAutomatic(spark, rtDir.toString, schedule,
      stats, recordsPath = s"$base/records",
      predictionsPath = s"$base/predictions",
      checkpointBase = s"$base/ckpt-auto",
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      basisTtlMs = 0,
      now = () => Timestamp.valueOf("2024-03-15 09:00:00"))

    // drive the index streams while the automatic mode drains its feeds
    val bmDocs = Seq(
      (0L until 10L).map(i => doc(100L + i, s"x${i}_")),
      (0L until 10L).map(i => doc(200L + i, s"y${i}_")),
      (0L until 10L).map(i => doc(300L + i, s"z${i}_")))
    val pxDocs = Seq(
      Seq(doc(100L, "b0_"), doc(101L, "f0_")),   // near-dup + fresh
      Seq(doc(200L, "f0_"), doc(201L, "g0_")),   // dup-of-accept + fresh
      Seq(doc(300L, "h0_")))                     // fresh
    val annVecs = Seq((100L until 110L).map(vec), (200L until 210L).map(vec),
      (300L until 310L).map(vec))
    (0 until 3).foreach { i =>
      bmIn.addData(bmDocs(i): _*)
      pxIn.addData(pxDocs(i): _*)
      annIn.addData(annVecs(i): _*)
      Seq(bmQ, pxQ, annQ).foreach(_.processAllAvailable())
    }
    qr.awaitTermination(120000)
    qp.awaitTermination(120000)
    Seq(bmQ, pxQ, annQ).foreach(_.stop())

    // ── every surface equals its isolated twin ──
    // automatic mode wrote both tables
    assert(spark.read.parquet(s"$base/records").count() > 0)
    val preds = spark.read.parquet(s"$base/predictions")
    assert(preds.count() > 0)
    // BM25: auto-compacted streamed store == offline build
    val bmIx = DocStream.loadBm25Index(spark, bm25Path)
    val bmOffline = CurationQueries.buildBm25Index(
      bmDocs.flatten.toDF("doc_id", "text"))
    assert(DocStream.compactedThrough(spark, bm25Path).exists(_ >= 1L),
      "the BM25 cadence fired during the composed run")
    assert(relRows(bmIx.tf) == relRows(bmOffline.tf))
    assert(relRows(bmIx.df) == relRows(bmOffline.df))
    assert(relRows(bmIx.totals) == relRows(bmOffline.totals))
    // prefix: accepted set matches the sequential truth (100 rejects
    // against base, 200 rejects against 101's accept)
    val pxIds = DocStream.loadStreamedPrefixIndex(spark, prefixPath)
      .arrays.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(pxIds == prefixBase.map(_._1).toSet ++ Set(101L, 201L, 300L),
      "prefix dedup attribution survives co-residency")
    assert(DocStream.readLongMarker(spark, prefixPath, "_base_version")
      .exists(_ >= 1L), "the prefix cadence fired during the composed run")
    // ANN: maintained == offline at the store's own planes
    val annIx = AnnStream.loadStreamedAnnIndex(spark, annPath)
    val allVecs = (annBase ++ annVecs.flatten).toDF("vec_id", "embedding")
    val queries = Seq(vec(900L)).toDF("vec_id", "embedding")
    assert(relRows(AnnStream.knnProbe(annIx, queries, k = 3)) ==
      relRows(AnnQueries.knnProbeLsh(
        AnnQueries.signSignatures(allVecs, annIx.planes), allVecs,
        annIx.planes, queries, k = 3)),
      "ANN probe parity survives co-residency")
    assert(DocStream.readLongMarker(spark, annPath, "_base_version")
      .exists(_ >= 1L), "the ANN cadence fired during the composed run")
  }
}
