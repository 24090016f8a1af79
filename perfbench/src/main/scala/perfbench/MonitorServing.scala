package perfbench

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Graft
import graft.analyse.StatisticsIO
import graft.functions.Geo
import graft.gtfs.{GtfsStatic, RtIngest}
import graft.model.{EventType, OriginType}
import graft.monitor.Monitor
import graft.predict.{RealtimePredictions, ScheduledPredictions}

/** `monitor_serving`: statistics and a predictions table (Schedule- and
  * Realtime-origin rows, so the board's realtime shadowing has work) are
  * built in setup; then a closed loop of two clients sends a fixed seeded
  * mix of requests until the run's time is up:
  *  - board: `Monitor.departureBoard` for one stop and a one-hour window;
  *  - transfer: `Monitor.transfersBanded` from one stop to the stops
  *    within 300 m (`Monitor.extendedStops`);
  *  - predict_single: `Graft.predictorFor` + `PointPredictor.predict`.
  * Stops and routes are drawn with Zipf popularity, so requests repeat.
  * One request is one operation. */
object MonitorServing {

  // two weekdays of history (the statistics only feed the requests); the
  // served day is the Wednesday after them
  val Network = Gen.Params(routes = 14, tripsPerDay = 180, days = 2)
  val Clients = 2
  val RealtimeShare = 0.4
  /** The request kinds in the order every client cycles through them:
    * half boards, a quarter transfers, a quarter point predictions. */
  val Cycle: Seq[String] = Seq("board", "transfer", "board", "predict_single")
  val Kinds: Seq[String] = Cycle.distinct
  val WarmupPerClient = 12

  /** Zipf sampler over `n` ranks (rank 0 most popular). */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s)).scanLeft(0.0)(_ + _).tail
      w.map(_ / w.last).toArray
    }
    def sample(rnd: scala.util.Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  final class State(val gtfs: String, val statsDir: String, val schedule: GtfsStatic.Schedule,
                    val predictions: DataFrame, val day: java.time.LocalDate,
                    val stops: Vector[Gen.Stop], val variants: Map[String, Vector[(Long, Int)]],
                    val routes: Vector[String], val net: Gen.Network)

  /** Import, analyse and predict on the generated history; returns what the
    * requests need. */
  def setup(ctx: Ctx): State = {
    val spark = ctx.spark
    import spark.implicits._
    val net = Gen.network(ctx.seed, Network)
    val in = ctx.work.resolve("input")
    Gen.writeSchedule(net, in.resolve("gtfs"))
    Gen.writeHistory(ctx.seed, net, Network, in.resolve("rt"))
    val gtfs = in.resolve("gtfs").toString
    val recordsPath = ctx.dir("records")
    val statsDir = ctx.dir("stats")
    val predictionsPath = ctx.dir("predictions")
    val tr = ctx.tracer
    val schedule = GtfsStatic.read(spark, gtfs)
    tr.verb("import") {
      RtIngest.records(RtIngest.readFeeds(spark, in.resolve("rt").toString), schedule, "bench", "gtfs")
        .write.mode("overwrite").parquet(recordsPath)
    }
    val stats = tr.verb("analyse") {
      StatisticsIO.computeAndSave(spark.read.parquet(recordsPath), schedule, statsDir)
    }
    val day = Gen.FirstDay.plusDays(Network.days)
    tr.verb("predict") {
      val scheduled = ScheduledPredictions.generate(spark, schedule, stats, day, 1)
      val rnd = new scala.util.Random(ctx.seed * 17 + 3)
      val date = day.format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE)
      val work = net.tripsOn(day).filter(_ => rnd.nextDouble() < RealtimeShare).map { t =>
        val k = rnd.nextInt(t.stops.size - 2)
        (t.id, date, Gen.hms(t.startSecs), t.route, k + 1, Option(rnd.nextInt(600) - 60),
          day.atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond + t.stops(k)._3)
      }.toDF("trip_id", "trip_start_date", "trip_start_time", "route_id",
        "basis_stop_sequence", "basis_delay", "time_of_recording")
      val noon = Timestamp.valueOf(day.atTime(12, 0))
      val realtime = tr.layerDf("predict.realtime")(
        RealtimePredictions.fromWork(work, schedule, stats, noon))
      scheduled.unionByName(realtime).write.mode("overwrite").parquet(predictionsPath)
    }
    val variants = schedule.tripsWithVariant
      .join(schedule.stopTimes.groupBy("trip_id").agg(count(lit(1)).as("n")), "trip_id")
      .select("route_id", "route_variant", "n").distinct().collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2).toInt)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toVector.sortBy(_._1) }
    val served = net.tripsOn(day).flatMap(_.stops.map(_._1)).distinct.sorted
      .map(net.stopById)
    new State(gtfs, statsDir, schedule, spark.read.parquet(predictionsPath), day,
      new scala.util.Random(ctx.seed).shuffle(served), variants,
      new scala.util.Random(ctx.seed + 1).shuffle(net.routes), net)
  }

  final case class Req(id: Long, kind: String, stop: Gen.Stop, route: String,
                       variant: (Long, Int), stopIndex: Int, start: Option[Int],
                       delay: Option[Int], eventType: Int, hour: Int)

  /** The seeded request stream of one client. */
  def requests(st: State, seed: Long, client: Int): Iterator[Req] = {
    val rnd = new scala.util.Random(seed * 1000 + client)
    val stopZipf = new Zipf(st.stops.size, 1.0)
    val routeZipf = new Zipf(st.routes.size, 1.0)
    Iterator.from(0).map { i =>
      val kind = Cycle((i + client) % Cycle.size)
      val route = st.routes(routeZipf.sample(rnd))
      val vs = st.variants(route)
      val variant = vs(rnd.nextInt(vs.size))
      val k = 1 + rnd.nextInt(variant._2 - 1)
      val start = if (rnd.nextBoolean()) Some(rnd.nextInt(k)) else None
      Req(client * 1000000L + i, kind, st.stops(stopZipf.sample(rnd)), route, variant, k,
        start, start.map(_ => rnd.nextInt(660) - 60),
        if (rnd.nextBoolean()) EventType.Arrival else EventType.Departure, 6 + rnd.nextInt(14))
    }
  }

  /** What one request observed, for the output checks and layer metrics. */
  final case class Seen(ok: Boolean, rows: Long, lookupMs: Double = 0, pointUs: Double = 0)

  def serve(ctx: Ctx, st: State, r: Req): Seen = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val t = Timestamp.valueOf(st.day.atTime(r.hour, 0))
    def plus(h: Int) = Timestamp.valueOf(st.day.atTime(r.hour, 0).plusHours(h))
    r.kind match {
      case "board" => tr.verb("board", r.id) {
        val rows = tr.layer("monitor.departure_board", r.id) {
          Monitor.departureBoard(st.predictions, st.schedule.trips, st.schedule.routes,
            st.schedule.stopTimes, Seq(r.stop.id), t, plus(1)).collect()
        }
        val times = rows.map(_.getAs[Timestamp]("median_time"))
        val sorted = times.indices.drop(1).forall(i =>
          times(i) != null && times(i - 1) != null && !times(i).before(times(i - 1)))
        Seen(sorted, rows.length)
      }
      case "transfer" => tr.verb("transfer", r.id) {
        val rows = tr.layer("monitor.transfers", r.id) {
          val near = Monitor.extendedStops(st.schedule.stops, r.stop.lat, r.stop.lon)
          val pairs = near.select(lit(r.stop.id).as("arrival_stop"), col("stop_id").as("departure_stop"),
            Geo.haversineMeters(lit(r.stop.lat), lit(r.stop.lon), col("stop_lat"), col("stop_lon"))
              .as("walk_meters"))
          def window(et: Int, hours: Int) = st.predictions.filter(col("event_type") === et &&
            col("prediction_curve").isNotNull &&
            col("event_instant") >= lit(t) && col("event_instant") < lit(plus(hours)))
          Monitor.transfersBanded(window(EventType.Arrival, 1).filter(col("stop_id") === r.stop.id),
            window(EventType.Departure, 2), pairs).collect()
        }
        val inRange = rows.forall { x =>
          val p = x.getAs[Float]("transfer_probability"); p >= 0f && p <= 1f }
        Seen(inRange, rows.length)
      }
      case "predict_single" => tr.verb("predict_single", r.id) {
        val t0 = System.nanoTime()
        val lookup = tr.layer("predict.lookup_build", r.id) {
          Graft.predictorFor(spark, st.statsDir, st.gtfs, r.route)
        }
        val t1 = System.nanoTime()
        val res = tr.layer("predict.point", r.id) {
          lookup.predict(r.route, r.variant._1, r.stopIndex, r.variant._2, r.start, r.delay,
            r.eventType, st.day.atTime(r.hour, 30))
        }
        Seen(res.isDefined, 1, (t1 - t0) / 1e6, (System.nanoTime() - t1) / 1e3)
      }
    }
  }

  /** Both clients in a closed loop, each sending its next request when
    * the last returns, while `more(n)` holds for its `n` requests so far.
    * `streams` are the clients' request streams, by client number. A traced
    * run traces every other request: the difference of the two halves'
    * medians is the tracing overhead. */
  def closedLoop(ctx: Ctx, st: State, seed: Long, streams: Seq[Int], more: Int => Boolean)
  : Seq[(Req, Stats.Outcome, Option[Seen], Boolean)] = {
    val results = new java.util.concurrent.ConcurrentLinkedQueue[(Req, Stats.Outcome, Option[Seen], Boolean)]()
    val clients = streams.map { c =>
      val th = new Thread(() => {
        val it = requests(st, seed, c)
        var n = 0
        while (more(n)) {
          val r = it.next()
          val layersOn = ctx.tracer.enabled && n % 2 == 0
          var seen: Option[Seen] = None
          val o = Stats.timed(r.kind) {
            seen = Some(ctx.tracer.withLayers(layersOn)(serve(ctx, st, r)))
          }
          o.error.foreach(e => ctx.log(s"request ${r.id} (${r.kind}) failed: $e"))
          results.add((r, o, seen, layersOn))
          n += 1
        }
      }, s"client-$c")
      th.start()
      th
    }
    clients.foreach(_.join())
    import scala.jdk.CollectionConverters._
    results.asScala.toSeq
  }

  def run(ctx: Ctx): Result = {
    val t0 = System.nanoTime()
    val st = setup(ctx)
    // warm the request paths up before the clock starts, under the same
    // two-client load: the JIT keeps speeding requests up for the first
    // few dozen of them
    val warmup = closedLoop(ctx, st, ctx.seed + 99, Seq(8, 9), _ < WarmupPerClient)
    val setupS = (System.nanoTime() - t0) / 1e9
    val origins = st.predictions.groupBy("origin_type").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    ctx.log(s"setup ${setupS}s, predictions by origin $origins")

    val cpu0 = Stats.processCpuMs()
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    val traced = ctx.tracer.enabled
    val all = closedLoop(ctx, st, ctx.seed, 0 until Clients, _ => System.nanoTime() < deadline)
    val windowCpuMs = Stats.processCpuMs() - cpu0
    val outcomes = all.map(_._2)
    // a warm-up request that throws fails the checks: it is not timed
    val checksOk = warmup.forall(x => x._2.ok && x._3.forall(_.ok)) && all.forall(_._3.forall(_.ok)) &&
      origins.getOrElse(OriginType.Schedule, 0L) > 0 && origins.getOrElse(OriginType.Realtime, 0L) > 0
    if (!checksOk) ctx.log("check failed: " + all.filter(x => x._3.exists(!_.ok)).map(_._1).take(5))
    val lat = Stats.latencies(outcomes)
    val e2e = Map(
      "setup_s" -> (setupS, "s"),
      "op_p50_ms" -> (if (lat.isEmpty) Double.NaN else Stats.median(lat), "ms"),
      "op_p90_ms" -> (if (lat.isEmpty) Double.NaN else Stats.quantile(lat, 0.9), "ms"),
      // two clients run at once, so CPU is shared out over the requests
      "op_cpu_ms" -> (if (lat.isEmpty) Double.NaN else windowCpuMs / lat.size, "ms"))
    ctx.log(f"requests ${outcomes.size}, p50 ${e2e("op_p50_ms")._1}%.0f ms, " +
      Kinds.map { k =>
        val l = Stats.latencies(outcomes, Some(k))
        f"$k n=${l.size} p50=${if (l.isEmpty) 0.0 else Stats.median(l)}%.0f"
      }.mkString(", "))

    val layers = new Layers.Sink
    if (traced) {
      val tr = ctx.tracer
      for (k <- Kinds; l = Stats.latencies(outcomes, Some(k)) if l.nonEmpty) {
        layers.put(s"verb.${k}_p50_ms", Stats.median(l))
        layers.put(s"verb.${k}_p90_ms", Stats.quantile(l, 0.9))
      }
      val on = all.filter(x => x._2.ok && x._4).map(_._2.latencyMs)
      val off = all.filter(x => x._2.ok && !x._4).map(_._2.latencyMs)
      if (on.nonEmpty && off.nonEmpty) layers.put("trace.overhead_ms", Stats.median(on) - Stats.median(off))
      def rowsMean(kind: String, name: String): Unit = {
        val xs = all.filter(_._1.kind == kind).flatMap(_._3).map(_.rows.toDouble)
        if (xs.nonEmpty) layers.put(name, Stats.mean(xs))
      }
      rowsMean("board", "monitor.board_rows_mean")
      rowsMean("transfer", "monitor.transfer_pairs_mean")
      val timed = all.map(_._1.id).toSet // leaves out the warm-up requests
      def jobsMean(span: String, name: String): Unit = {
        val ss = tr.named(span).filter(s => timed(s.request))
        if (ss.nonEmpty) layers.put(name, Stats.mean(ss.map(s => tr.countersOf(s).jobs.toDouble)))
      }
      jobsMean("board", "monitor.board_jobs_mean")
      jobsMean("transfer", "monitor.transfer_jobs_mean")
      val singles = all.filter(x => x._1.kind == "predict_single").flatMap(_._3)
      if (singles.nonEmpty) {
        layers.put("predict.lookup_build_ms_p50", Stats.median(singles.map(_.lookupMs)))
        layers.put("predict.point_us_p50", Stats.median(singles.map(_.pointUs)))
      }
      layers.put("predict.requests", singles.size.toDouble)
      layers.spanSeconds(tr, "predict.realtime", "predict.realtime_s")
      layers.spanSeconds(tr, "import", "verb.import_s")
      layers.spanSeconds(tr, "analyse", "verb.analyse_s")
      layers.spanSeconds(tr, "predict", "verb.predict_s")
      val curves = st.predictions.filter(col("prediction_curve").isNotNull)
        .orderBy("trip_id", "stop_sequence", "event_type").select("prediction_curve").limit(2)
        .collect().map(r => graft.curves.Curve(
          r.getSeq[org.apache.spark.sql.Row](0).map(p => (p.getFloat(0), p.getFloat(1))).toVector))
      if (curves.length == 2) CurveProbe.transfer(curves(0), curves(1), layers)
    }
    // the streaming layer: automatic mode on the set-up's statistics, after
    // the window, its feeds counted with the requests
    val (streamTally, streamOk) =
      if (traced) AutomaticMode.run(ctx, st.schedule, st.statsDir, st.net, st.day, layers)
      else (Stats.Tally(0, 0), true)
    val tally = Stats.tally(outcomes)
    Result(checksOk && streamOk, Stats.Tally(tally.attempted + streamTally.attempted,
      tally.failed + streamTally.failed), e2e, layers.toMap)
  }
}
