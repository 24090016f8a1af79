package perfbench

import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import graft.analyse.StatisticsIO
import graft.gtfs.{GtfsRt, GtfsStatic, RtIngest}
import graft.streaming.RtStream

/** The reference's automatic mode, `RtStream.startAutomatic` at its default
  * 5 s trigger, on the statistics the `monitor_serving` set-up built. It
  * runs in traced `monitor_serving` runs only, after the request window:
  * its metrics are the `streaming` layer's.
  *
  * Load is an open loop: one generator thread writes a feed every
  * `FeedEveryMs` for a fixed fleet, whatever the queries are doing. Each
  * vehicle's basis (stop, delay) changes every `BasisEvery` feeds,
  * staggered over the fleet, so the stateful dedup has repeats to drop.
  * Freshness runs from the moment a feed was due to land (so a stalled
  * generator counts against it) to the commit of the predictions
  * micro-batch that read it; the batch of
  * a feed comes from the predictions query's file-source log and the
  * commit time from the query's progress events. One feed is one
  * operation: a feed whose predictions are not committed by the end has
  * failed. */
object AutomaticMode {

  val Fleet = 120
  val FeedEveryMs = 2000L
  val MeasureSeconds = 20
  val BasisEvery = 4
  val DrainTimeoutMs = 40000L
  /** State rows the dedup operator reports per vehicle key (measured on
    * Spark 4.1: its state store counts two rows a key). */
  val StateRowsPerVehicle = 2

  /** One micro-batch as its progress event reports it: it read the file
    * source's batches after `sourceFrom` up to `sourceTo`. `workItems` is
    * the output of the stateful dedup, -1 when the batch's plan was
    * already replaced when the event arrived. */
  final case class Batch(query: java.util.UUID, batchId: Long, inputRows: Long,
                         sourceFrom: Long, sourceTo: Long,
                         triggerMs: Long, commitMs: Long, stateRows: Long,
                         stateUpdated: Long, workItems: Long) {
    def read(sourceBatch: Long): Boolean =
      inputRows > 0 && sourceFrom < sourceBatch && sourceBatch <= sourceTo
  }

  private val LogOffset = """"logOffset"\s*:\s*(\d+)""".r.unanchored
  private def logOffset(json: String): Long = json match {
    case LogOffset(n) => n.toLong
    case _ => -1L
  }

  final class Progress(spark: SparkSession) extends StreamingQueryListener {
    val batches = new ConcurrentLinkedQueue[Batch]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val trigger = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      val st = p.stateOperators.headOption
      val src = p.sources.headOption
      batches.add(Batch(p.id, p.batchId, p.numInputRows,
        src.map(x => logOffset(String.valueOf(x.startOffset))).getOrElse(-1L),
        src.map(x => logOffset(String.valueOf(x.endOffset))).getOrElse(-1L), trigger,
        java.time.Instant.parse(p.timestamp).toEpochMilli + trigger,
        st.map(_.numRowsTotal).getOrElse(-1L), st.map(_.numRowsUpdated).getOrElse(0L),
        dedupOutputRows(p.id, p.batchId)))
    }

    /** Rows the `FlatMapGroupsWithState` node of the batch emitted, read from
      * the query's last execution while it is still that batch's. */
    private def dedupOutputRows(id: java.util.UUID, batchId: Long): Long =
      spark.streams.get(id) match {
        case w: StreamingQueryWrapper =>
          val exec = w.streamingQuery.lastExecution
          if (exec == null || exec.currentBatchId != batchId) -1L
          else exec.executedPlan.collect {
            case n if n.nodeName.startsWith("FlatMapGroupsWithState") =>
              n.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
          }.sum
        case _ => -1L
      }
  }

  /** The feed the generator writes as number `j`. */
  def feed(fleet: Vector[Gen.Trip], day: java.time.LocalDate, j: Int): GtfsRt.FeedMessage = {
    val date = day.format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE)
    val ts = day.atTime(8, 0).toEpochSecond(java.time.ZoneOffset.UTC) + j * FeedEveryMs / 1000
    def ev(d: Int) = Some(GtfsRt.StopTimeEvent(Some(d), None))
    val updates = fleet.zipWithIndex.map { case (t, v) =>
      val b = (j + v % BasisEvery) / BasisEvery
      val k = b % (t.stops.size - 1)
      val delay = (v * 7 + b * 13) % 20 * 30 - 120
      GtfsRt.TripUpdate(GtfsRt.TripDescriptor(Some(t.id), Some(t.route),
        startTime = Some(Gen.hms(t.startSecs)), startDate = Some(date)),
        Seq(GtfsRt.StopTimeUpdate(Some(k + 1), Some(t.stops(k)._1), ev(delay), ev(delay))))
    }
    GtfsRt.FeedMessage(Some(ts), updates)
  }

  /** Feed file name -> the file-source batch that listed it, from the
    * source log of the query's checkpoint (compacted files included). The
    * source numbers its batches itself: the query batch that read one is
    * the one whose progress spans it. */
  def sourceBatches(checkpoint: String): Map[String, Long] = {
    val dir = java.nio.file.Paths.get(checkpoint, "sources", "0")
    if (!Files.isDirectory(dir)) Map.empty
    else {
      val entry = """"path":"([^"]+)".*"batchId":(\d+)""".r.unanchored
      val files = Files.list(dir)
      try files.iterator().asScala.filter(p => !p.getFileName.toString.startsWith("."))
        .flatMap(p => Files.readAllLines(p).asScala).collect {
          case entry(path, id) => path.substring(path.lastIndexOf('/') + 1) -> id.toLong
        }.toMap
      finally files.close()
    }
  }

  /** Run the stream on `schedule` and the statistics under `statsDir`,
    * serving `day`, and put the `streaming.*` metrics into `layers`.
    * Returns the feeds' tally and whether the output checks passed. */
  def run(ctx: Ctx, schedule: GtfsStatic.Schedule, statsDir: String, net: Gen.Network,
          day: java.time.LocalDate, layers: Layers.Sink): (Stats.Tally, Boolean) = ctx.tracer.verb("automatic") {
    val spark = ctx.spark
    val base = ctx.work.resolve("automatic")
    val rtDir = base.resolve("rt")
    val staging = base.resolve("staging")
    Files.createDirectories(rtDir)
    Files.createDirectories(staging)
    val recordsPath = base.resolve("records").toString
    val checkpoint = base.resolve("checkpoint").toString
    val fleet = net.tripsOn(day).sortBy(_.id).take(Fleet)
    val dueAt = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    // written aside and moved in, so the stream never lists a partial file
    def write(j: Int, due: Long): Unit = {
      val name = f"feed_$j%05d.pb"
      val tmp = staging.resolve(name)
      Files.write(tmp, GtfsRt.encode(feed(fleet, day, j)))
      Files.move(tmp, rtDir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      dueAt.put(name, due)
    }

    val progress = new Progress(spark)
    spark.streams.addListener(progress)
    val stats = StatisticsIO.load(spark, statsDir)
    val (recordsQ, predictionsQ) = RtStream.startAutomatic(spark, rtDir.toString, schedule, stats,
      recordsPath, base.resolve("predictions").toString, checkpoint)
    /** The progress of the batch of `q` that read feed `name`, once committed. */
    def batchOf(q: StreamingQuery, name: String): Option[Batch] =
      sourceBatches(s"$checkpoint/${if (q eq recordsQ) "records" else "predictions"}").get(name)
        .flatMap(s => progress.batches.asScala.find(b => b.query == q.id && b.read(s)))
    def committed(q: StreamingQuery, names: Iterable[String]): Boolean =
      names.forall(batchOf(q, _).isDefined)
    def waitFor(names: Iterable[String], timeoutMs: Long): Unit = {
      val until = System.currentTimeMillis() + timeoutMs
      while (System.currentTimeMillis() < until &&
        !(committed(recordsQ, names) && committed(predictionsQ, names)) &&
        recordsQ.exception.isEmpty && predictionsQ.exception.isEmpty) Thread.sleep(100)
    }
    try {
      // a warm-up feed through both cold queries before the load starts
      write(0, System.currentTimeMillis())
      waitFor(Seq("feed_00000.pb"), DrainTimeoutMs)
      val warmBatches = progress.batches.asScala.map(b => (b.query, b.batchId)).toSet
      val late = new ConcurrentLinkedQueue[Long]()
      val feeds = (MeasureSeconds * 1000 / FeedEveryMs).toInt
      val generator = new Thread(() => {
        val start = System.currentTimeMillis()
        for (j <- 1 to feeds) {
          val due = start + (j - 1) * FeedEveryMs
          val wait = due - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          late.add(System.currentTimeMillis() - due)
          write(j, due)
        }
      }, "feed-generator")
      generator.start()
      generator.join()
      val names = (1 to feeds).map(j => f"feed_$j%05d.pb")
      waitFor(names, DrainTimeoutMs)
      Seq(recordsQ, predictionsQ).foreach(_.stop())

      val all = progress.batches.asScala.toSeq.filterNot(b => warmBatches((b.query, b.batchId)))
      val preds = all.filter(b => b.query == predictionsQ.id && b.inputRows > 0)
      val recs = all.filter(b => b.query == recordsQ.id && b.inputRows > 0)
      val batchOfFeed = names.flatMap(n => batchOf(predictionsQ, n).map(n -> _))
      val fresh = batchOfFeed.map { case (n, b) => (b.commitMs - dueAt.get(n)) / 1e3 }
      val failed = names.size - fresh.size

      // the streamed records table must equal a batch import of the same files
      val batch = RtIngest.records(RtIngest.readFeeds(spark, rtDir.toString), schedule, "rt", "schedule")
      def asText(df: DataFrame) = df.select(batch.columns.map(c => col(c).cast("string")): _*)
      val streamed = asText(spark.read.parquet(recordsPath))
      val sameRecords = asText(batch).exceptAll(streamed).isEmpty && streamed.exceptAll(asText(batch)).isEmpty
      val stateRows = preds.lastOption.map(_.stateRows).getOrElse(-1L)
      // the dedup keeps its state per vehicle of the fleet
      val stateOk = stateRows == fleet.size * StateRowsPerVehicle
      if (!sameRecords || !stateOk)
        ctx.log(s"automatic check failed: records equal $sameRecords, " +
          s"state rows $stateRows vs ${fleet.size * StateRowsPerVehicle}")

      def put(n: String, xs: Seq[Double], q: Double): Unit =
        if (xs.nonEmpty) layers.put(n, Stats.quantile(xs, q))
      put("streaming.records_batch_ms_p50", recs.map(_.triggerMs.toDouble), 0.5)
      put("streaming.records_batch_ms_p90", recs.map(_.triggerMs.toDouble), 0.9)
      put("streaming.predictions_batch_ms_p50", preds.map(_.triggerMs.toDouble), 0.5)
      put("streaming.predictions_batch_ms_p90", preds.map(_.triggerMs.toDouble), 0.9)
      put("streaming.freshness_p50_s", fresh, 0.5)
      put("streaming.freshness_p90_s", fresh, 0.9)
      layers.put("streaming.batches", preds.size.toDouble)
      val perBatch = batchOfFeed.groupBy(_._2.batchId).values.map(_.size.toDouble).toSeq
      layers.put("streaming.feeds_per_batch_mean", Stats.mean(perBatch))
      layers.put("streaming.state_rows", stateRows.toDouble)
      // the share of vehicle updates (keys the dedup updated) that changed
      // a basis and became work
      val read = preds.filter(_.workItems >= 0)
      if (read.nonEmpty && read.map(_.stateUpdated).sum > 0)
        layers.put("streaming.work_ratio", read.map(_.workItems).sum.toDouble / read.map(_.stateUpdated).sum)
      layers.put("streaming.generator_late_ms_max", late.asScala.maxOption.getOrElse(0L).toDouble)
      ctx.log(f"automatic: ${names.size} feeds, ${preds.size} batches, freshness p50 " +
        f"${if (fresh.isEmpty) Double.NaN else Stats.median(fresh)}%.2f s, failed $failed")
      (Stats.Tally(names.size.toLong, failed.toLong), sameRecords && stateOk)
    } finally {
      Seq(recordsQ, predictionsQ).foreach(q => if (q.isActive) q.stop())
      spark.streams.removeListener(progress)
    }
  }
}
