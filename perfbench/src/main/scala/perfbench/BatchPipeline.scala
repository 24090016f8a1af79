package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.analyse.{DelayAnalysis, StatisticsIO}
import graft.gtfs.{GtfsStatic, RtIngest}
import graft.model.OriginType
import graft.predict.{Predictor, ScheduledPredictions}

/** `batch_pipeline`: the reference's batch verbs in order on a generated
  * network — `import` (decode + match + last-wins, written), `analyse`
  * (gap-fill, the three curve builds, written) and `predict` (scheduled
  * predictions over the 7-day horizon, written) — repeated back to back
  * until the run's time is up. One pass is one operation. */
object BatchPipeline {

  val Network = Gen.Params(routes = 14, tripsPerDay = 180, days = 7)
  val HorizonDays = 7
  /** The first pass runs in a cold JVM (class loading, JIT, codegen) and
    * takes about twice a warm one: it belongs to the set-up, with the
    * input generation before it. The window then times warm passes, at
    * least this many whatever their length: the JIT still speeds up the
    * first of them, so a run that timed only one when the host was slow
    * would read slower again. */
  val MinWarmPasses = 2

  final case class Inputs(gtfs: String, rt: String, expected: Gen.Expected,
                          net: Gen.Network)

  /** Generate the inputs of one seed under `dir`. */
  def generate(seed: Long, dir: java.nio.file.Path): Inputs = {
    val net = Gen.network(seed, Network)
    Gen.writeSchedule(net, dir.resolve("gtfs"))
    val exp = Gen.writeHistory(seed, net, Network, dir.resolve("rt"))
    Inputs(dir.resolve("gtfs").toString, dir.resolve("rt").toString, exp, net)
  }

  /** Scheduled requests the horizon must yield: one per trip run, stop and
    * event type. */
  def expectedRequests(net: Gen.Network, from: java.time.LocalDate): Long =
    (0 until HorizonDays).map(i => net.tripsOn(from.plusDays(i)).map(_.stops.size.toLong * 2).sum).sum

  final case class PassTimes(importS: Double, analyseS: Double, predictS: Double)

  def pass(ctx: Ctx, in: Inputs, out: String, from: java.time.LocalDate): PassTimes = {
    val spark = ctx.spark
    val tr = ctx.tracer
    import spark.implicits._
    def secs(t0: Long) = (System.nanoTime() - t0) / 1e9
    val recordsPath = s"$out/records"
    val statsDir = s"$out/stats"
    val predictionsPath = s"$out/predictions"

    val t0 = System.nanoTime()
    val schedule = tr.verb("import") {
      val schedule = tr.layer("gtfs.schedule_read") {
        val s = GtfsStatic.read(spark, in.gtfs)
        if (tr.layersActive) s.tripsWithVariant.queryExecution.toRdd.count()
        s
      }
      val obs = tr.layerDf("gtfs.decode")(RtIngest.readFeeds(spark, in.rt).toDF())
      val records = tr.layerDf("gtfs.match")(
        RtIngest.records(obs.as[RtIngest.RtObservation], schedule, "bench", "gtfs"))
      tr.layer("sinks.records_write")(records.write.mode("overwrite").parquet(recordsPath))
      schedule
    }
    val importS = secs(t0)

    val t1 = System.nanoTime()
    tr.verb("analyse") {
      val records = spark.read.parquet(recordsPath)
      if (!tr.layersActive) StatisticsIO.computeAndSave(records, schedule, statsDir)
      else {
        val projected = tr.layerDf("analyse.gapfill")(DelayAnalysis.projectedRecords(records, schedule))
        val general = tr.layerDf("analyse.general")(DelayAnalysis.generalDelayCurves(projected))
        val sets = tr.layerDf("analyse.pairs")(DelayAnalysis.stopPairCurveSets(projected))
        val defaults = tr.layerDf("analyse.defaults")(
          DelayAnalysis.defaultCurves(records, schedule, schedule.routes))
        tr.layer("sinks.stats_write")(StatisticsIO.save(statsDir, general, sets, defaults))
      }
    }
    val analyseS = secs(t1)

    val t2 = System.nanoTime()
    tr.verb("predict") {
      val stats = StatisticsIO.load(spark, statsDir)
      val predictions =
        if (!tr.layersActive) ScheduledPredictions.generate(spark, schedule, stats, from, HorizonDays)
        else {
          val reqs = tr.layerDf("predict.requests")(
            ScheduledPredictions.requests(spark, schedule, from, HorizonDays))
          tr.layerDf("predict.resolve")(
            Predictor.resolve(reqs, stats.general, stats.curveSets, stats.defaults, schedule.routes)
              .withColumn("origin_type", lit(OriginType.Schedule)))
        }
      tr.layer("sinks.predictions_write")(predictions.write.mode("overwrite").parquet(predictionsPath))
    }
    val predictS = secs(t2)
    tr.releaseLayers()
    PassTimes(importS, analyseS, predictS)
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val setupStart = System.nanoTime()
    val in = generate(ctx.seed, ctx.work.resolve("input0"))
    var setupS = Double.NaN
    val from = Gen.FirstDay.plusDays(Network.days)
    ctx.log(s"inputs: ${in.expected}")

    val traced = ctx.tracer.enabled
    val outcomes = scala.collection.mutable.ArrayBuffer[(Stats.Outcome, Option[PassTimes], Boolean, Double)]()
    // A traced run alternates traced and untraced passes. The cold first
    // one warms the traced path up; layer metrics come from the later
    // traced passes. The first warm pass (untraced) is still speeding up
    // with the JIT, so the tracing overhead compares the traced and
    // untraced passes after it: at least one of each.
    val lastMinPass = if (traced) 3 else MinWarmPasses
    var warmSince = Long.MaxValue
    var deadline = Long.MaxValue
    var i = 0
    var lastOut: Option[String] = None
    while (i <= lastMinPass || System.nanoTime() < deadline) {
      val layersOn = traced && i % 2 == 0
      if (i == 2) warmSince = System.nanoTime()
      val out = ctx.dir(s"pass$i")
      // each pass reads its own copy of the inputs, so that nothing the
      // engine remembers per path can carry over from an earlier pass
      val passIn = if (i == 0) in else generate(ctx.seed, ctx.work.resolve(s"input$i"))
      var times: Option[PassTimes] = None
      val cpu0 = Stats.processCpuMs()
      val o = Stats.timed("pass") {
        times = Some(ctx.tracer.withLayers(layersOn)(pass(ctx, passIn, out, from)))
      }
      o.error.foreach(e => ctx.log(s"pass $i failed: $e"))
      outcomes += ((o, times, layersOn, Stats.processCpuMs() - cpu0))
      if (o.ok) { lastOut.foreach(deleteTree); lastOut = Some(out) } else deleteTree(out)
      if (i > 0) deleteTree(passIn.gtfs.stripSuffix("/gtfs"))
      ctx.log(f"pass $i: ${o.latencyMs}%.0f ms ${times.getOrElse("")}")
      if (i == 0) {
        setupS = (System.nanoTime() - setupStart) / 1e9
        deadline = System.nanoTime() + ctx.seconds * 1000000000L
      }
      i += 1
    }

    // outputs check on the last successful pass
    val expectedReqs = expectedRequests(in.net, from)
    val (correct, recordCount, predCount, rungs) = lastOut match {
      case None => (false, 0L, 0L, Map.empty[Int, Long])
      case Some(out) =>
        val recs = spark.read.parquet(s"$out/records").count()
        val preds = spark.read.parquet(s"$out/predictions")
        val n = preds.count()
        val r = preds.groupBy("precision_type").count().collect()
          .map(x => x.getInt(0) -> x.getLong(1)).toMap
        val ok = recs == in.expected.recordKeys && n == expectedReqs
        if (!ok) ctx.log(s"check failed: records $recs vs ${in.expected.recordKeys}, " +
          s"predictions $n vs $expectedReqs")
        (ok, recs, n, r)
    }

    val passes = Stats.latencies(outcomes.drop(1).map(_._1).toSeq)
    val passCpu = outcomes.drop(1).filter(_._1.ok).map(_._4).toSeq
    val e2e = Map(
      "setup_s" -> (setupS, "s"),
      "op_p50_ms" -> (if (passes.isEmpty) Double.NaN else Stats.median(passes), "ms"),
      "op_p90_ms" -> (if (passes.isEmpty) Double.NaN else Stats.quantile(passes, 0.9), "ms"),
      "op_cpu_ms" -> (if (passCpu.isEmpty) Double.NaN else Stats.median(passCpu), "ms"))

    // what decode and match make of the set-up's copy of the inputs: the
    // feeds decoded, and the observations no scheduled trip matches
    val (feeds, unmatched) = if (!traced) (0L, 0L) else {
      val obs = RtIngest.readFeeds(spark, in.rt)
      val trips = GtfsStatic.read(spark, in.gtfs).tripsWithVariant.select("trip_id")
      (obs.select("rt_file").distinct().count(), obs.join(trips, Seq("trip_id"), "left_anti").count())
    }
    val decodeOk = !traced || (feeds == in.expected.feeds && unmatched == in.expected.ghostObservations)
    if (!decodeOk) ctx.log(s"check failed: feeds $feeds vs ${in.expected.feeds}, " +
      s"unmatched observations $unmatched vs ${in.expected.ghostObservations}")

    val layers = new Layers.Sink
    if (traced) {
      val tr = ctx.tracer
      val warm = outcomes.drop(1).filter(_._1.ok)
      val untraced = warm.filterNot(_._3)
      val (tracedMs, untracedMs) = outcomes.drop(2).filter(_._1.ok).partition(_._3)
      if (tracedMs.nonEmpty && untracedMs.nonEmpty)
        layers.put("trace.overhead_ms",
          Stats.median(tracedMs.map(_._1.latencyMs).toSeq) - Stats.median(untracedMs.map(_._1.latencyMs).toSeq))
      // verb times as the untraced run sees them
      val verbTimes = untraced.flatMap(_._2).toSeq
      if (verbTimes.nonEmpty) {
        layers.put("verb.import_s", Stats.median(verbTimes.map(_.importS)))
        layers.put("verb.analyse_s", Stats.median(verbTimes.map(_.analyseS)))
        layers.put("verb.predict_s", Stats.median(verbTimes.map(_.predictS)))
      }
      layers.spanSeconds(tr, "gtfs.schedule_read", "gtfs.schedule_read_s", warmSince)
      Seq("gtfs.decode", "gtfs.match", "analyse.gapfill", "analyse.general", "analyse.pairs",
        "analyse.defaults", "predict.resolve").foreach(n => layers.spanWithCounters(tr, n, n, warmSince))
      layers.spanSeconds(tr, "predict.requests", "predict.requests_s", warmSince)
      layers.spanSeconds(tr, "sinks.records_write", "sinks.records_write_s", warmSince)
      layers.spanSeconds(tr, "sinks.stats_write", "sinks.stats_write_s", warmSince)
      layers.spanSeconds(tr, "sinks.predictions_write", "sinks.predictions_write_s", warmSince)
      def lastRows(n: String) = tr.rows(n).lastOption.map(_.toDouble).getOrElse(0.0)
      layers.put("gtfs.feeds", feeds.toDouble)
      layers.put("gtfs.observations", lastRows("gtfs.decode"))
      layers.put("gtfs.records", lastRows("gtfs.match"))
      layers.put("gtfs.unmatched_obs", unmatched.toDouble)
      if (lastRows("gtfs.decode") > 0)
        layers.put("gtfs.kept_ratio", lastRows("gtfs.match") / lastRows("gtfs.decode"))
      layers.put("analyse.projected_rows", lastRows("analyse.gapfill"))
      layers.put("analyse.general_curves", lastRows("analyse.general"))
      layers.put("analyse.curve_sets", lastRows("analyse.pairs"))
      layers.put("analyse.default_cells", lastRows("analyse.defaults"))
      layers.put("predict.requests", lastRows("predict.requests"))
      Layers.Rungs.foreach { case (id, n) => layers.put(s"predict.rung.$n", rungs.getOrElse(id, 0L).toDouble) }
      lastOut.foreach { out =>
        layers.put("sinks.written_mb", Layers.treeBytes(out) / 1048576.0)
        CurveProbe.batch(ctx, in, out, layers)
      }
    }
    ctx.log(s"records $recordCount, predictions $predCount, rungs $rungs")
    Result(correct && decodeOk, Stats.tally(outcomes.map(_._1).toSeq), e2e, layers.toMap)
  }

  def deleteTree(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(java.nio.file.Files.delete(_))
      finally s.close()
    }
  }
}
