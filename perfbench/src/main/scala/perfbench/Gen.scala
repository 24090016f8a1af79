package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.{LocalDate, ZoneOffset}
import graft.gtfs.GtfsRt

/** Seeded generator of a GTFS network plus GTFS-RT history feeds, the
  * benchmark's only input source. Everything the engine reads is written
  * to disk by this object; the same seed gives byte-identical files.
  *
  * Shape (what each mechanism of the pipeline gets to work on):
  *  - routes lie on a square grid of stops 250 m apart, so every stop has
  *    walkable neighbours for the transfer graph;
  *  - trips per route follow a Zipf law, so curve groups are uneven;
  *  - each route has two variants: the full line and a line cut short by
  *    three stops;
  *  - about 15 % of a vehicle's stop updates are never reported, so the
  *    gap-fill has gaps to fill;
  *  - each vehicle is reported in three consecutive snapshots with its
  *    estimate converging, so last-wins discards two thirds of them;
  *  - about 2 % of trip updates name trips the schedule does not know;
  *  - about 1 % of vehicles run more than 3000 s late. */
object Gen {

  /** Network size: routes, trips a day over all routes, days of history. */
  final case class Params(routes: Int, tripsPerDay: Int, days: Int)

  private val FeedEverySecs = 15 * 60
  private val Snapshots = 3
  private val MissingShare = 0.15
  private val GhostShare = 0.02
  private val ExtremeShare = 0.01

  /** Trip of the generated schedule: stop visits as (stop id, arrival
    * seconds, departure seconds) after service-day midnight. */
  final case class Trip(id: String, route: String, variant: Int, service: String,
                        stops: Vector[(String, Int, Int)]) {
    def startSecs: Int = stops.head._3
  }

  final case class Stop(id: String, lat: Double, lon: Double)

  final case class Network(stops: Vector[Stop], routes: Vector[String],
                           trips: Vector[Trip], firstDay: LocalDate) {
    def runsOn(t: Trip, day: LocalDate): Boolean =
      t.service == "all" || day.getDayOfWeek.getValue <= 5
    def tripsOn(day: LocalDate): Vector[Trip] = trips.filter(runsOn(_, day))
    lazy val stopById: Map[String, Stop] = stops.map(s => s.id -> s).toMap
  }

  /** What the generator knows the engine must produce. */
  final case class Expected(feeds: Int, observations: Long, ghostObservations: Long,
                            recordKeys: Long, vehicles: Long)

  val FirstDay: LocalDate = LocalDate.of(2024, 3, 4) // a Monday
  private val Grid = 24
  private val LatStep = 0.00225 // ~250 m
  private val LonStep = 0.00374 // ~250 m at 53° N

  def hms(secs: Int): String = f"${secs / 3600}%02d:${secs / 60 % 60}%02d:${secs % 60}%02d"

  /** Build the network of one seed. */
  def network(seed: Long, p: Params): Network = {
    val rnd = new scala.util.Random(seed)
    val stops = (for (r <- 0 until Grid; c <- 0 until Grid)
      yield Stop(f"s$r%02d_$c%02d", 53.0 + r * LatStep, 8.7 + c * LonStep)).toVector
    val weights = (1 to p.routes).map(k => 1.0 / math.pow(k, 1.1))
    val wsum = weights.sum
    val routes = (0 until p.routes).map(r => s"r$r").toVector
    val trips = routes.indices.flatMap { r =>
      val n = math.max(2, math.round(p.tripsPerDay * weights(r) / wsum).toInt)
      // lengths follow the rank, not the seed, so that every seed yields
      // about the same number of records
      val len = 12 + r * 5 % 7
      val horizontal = rnd.nextBoolean()
      val line = rnd.nextInt(Grid)
      val offset = rnd.nextInt(Grid - len + 1)
      val forward = rnd.nextBoolean()
      val full = (0 until len).map { k =>
        val along = if (forward) offset + k else offset + len - 1 - k
        val (row, col) = if (horizontal) (line, along) else (along, line)
        f"s$row%02d_$col%02d"
      }.toVector
      val hop = 120 + 15 * rnd.nextInt(5)
      val spacing = 17 * 3600 / n
      (0 until n).map { i =>
        val variant = i % 2
        val seq = if (variant == 0) full else full.dropRight(3)
        val start = 5 * 3600 + i * spacing + 60 * rnd.nextInt(math.max(1, spacing / 60))
        val visits = seq.indices.map { k =>
          val arr = start + k * hop
          val dwell = if (k > 0 && k < seq.size - 1 && rnd.nextInt(4) == 0) 60 else 0
          (seq(k), arr, arr + dwell)
        }.toVector
        Trip(s"${routes(r)}_t$i", routes(r), variant,
          if (i % 3 == 2) "wk" else "all", visits)
      }
    }.toVector
    Network(stops, routes, trips, FirstDay)
  }

  /** Write the static GTFS CSVs of `net` under `dir`. */
  def writeSchedule(net: Network, dir: Path): Unit = {
    Files.createDirectories(dir)
    def write(name: String, header: String, rows: Iterable[String]): Unit = {
      val sb = new StringBuilder(header).append('\n')
      rows.foreach(r => sb.append(r).append('\n'))
      Files.write(dir.resolve(name), sb.toString.getBytes(UTF_8))
    }
    write("agency.txt", "agency_id,agency_name,agency_url,agency_timezone",
      Seq("ag1,Bench Transit,https://example.org,UTC"))
    write("calendar.txt",
      "service_id,monday,tuesday,wednesday,thursday,friday,saturday,sunday,start_date,end_date",
      Seq("all,1,1,1,1,1,1,1,20240101,20241231", "wk,1,1,1,1,1,0,0,20240101,20241231"))
    write("calendar_dates.txt", "service_id,date,exception_type", Nil)
    write("routes.txt", "route_id,agency_id,route_short_name,route_type",
      net.routes.zipWithIndex.map { case (r, i) => s"$r,ag1,L$i,${if (i % 4 == 0) 0 else 3}" })
    write("stops.txt", "stop_id,stop_name,stop_lat,stop_lon",
      net.stops.map(s => f"${s.id},Stop ${s.id},${s.lat}%.6f,${s.lon}%.6f"))
    write("trips.txt", "trip_id,route_id,service_id,trip_headsign,shape_id",
      net.trips.map(t => s"${t.id},${t.route},${t.service},To ${t.stops.last._1},sh${t.route}_${t.variant}"))
    write("stop_times.txt", "trip_id,arrival_time,departure_time,stop_id,stop_sequence",
      net.trips.flatMap(t => t.stops.zipWithIndex.map { case ((s, a, d), k) =>
        s"${t.id},${hms(a)},${hms(d)},$s,${k + 1}" }))
  }

  private def epoch(day: LocalDate, secs: Int): Long =
    day.atStartOfDay(ZoneOffset.UTC).toEpochSecond + secs

  def feedName(ts: Long): String = {
    val t = java.time.LocalDateTime.ofEpochSecond(ts, 0, ZoneOffset.UTC)
    f"feed_${t.toLocalDate}T${t.getHour}%02d-${t.getMinute}%02d-${t.getSecond}%02d.pb"
  }

  /** Write `days` service days of history feeds from the network's first
    * day into `dir` and return what the engine must find in them. */
  def writeHistory(seed: Long, net: Network, p: Params, dir: Path): Expected = {
    Files.createDirectories(dir)
    val rnd = new scala.util.Random(seed * 31 + 7)
    val every = FeedEverySecs
    val feeds = new java.util.TreeMap[java.lang.Long, Vector[GtfsRt.TripUpdate]]()
    def add(ts: Long, tu: GtfsRt.TripUpdate): Unit =
      feeds.merge(ts, Vector(tu), (a, b) => a ++ b)
    def ev(d: Int) = Some(GtfsRt.StopTimeEvent(Some(d), None))
    var observations = 0L
    var ghostObs = 0L
    var recordKeys = 0L
    var vehicles = 0L
    var ghosts = 0
    for (dayIdx <- 0 until p.days; t <- net.tripsOn(net.firstDay.plusDays(dayIdx))) {
      val day = net.firstDay.plusDays(dayIdx)
      vehicles += 1
      val extreme = rnd.nextDouble() < ExtremeShare
      var d = (rnd.nextGaussian() * 90 + 30).toInt + (if (extreme) 3100 else 0)
      val truth = t.stops.indices.map { _ =>
        d += (rnd.nextGaussian() * 20 + 4).toInt; d
      }
      val reported = t.stops.indices.filter(_ => rnd.nextDouble() >= MissingShare)
      recordKeys += reported.size
      val endTs = epoch(day, t.stops.last._2)
      val firstFeed = (endTs / every + 1) * every
      val date = day.format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE)
      val desc = GtfsRt.TripDescriptor(Some(t.id), Some(t.route),
        startTime = Some(hms(t.startSecs)), startDate = Some(date))
      for (j <- 0 until Snapshots) {
        val err = (Snapshots - 1 - j) * 24
        val updates = reported.map { k =>
          val dk = truth(k) + (if (err == 0) 0 else rnd.nextInt(2 * err + 1) - err)
          GtfsRt.StopTimeUpdate(Some(k + 1), Some(t.stops(k)._1),
            if (k == 0) None else ev(dk),
            if (k == t.stops.size - 1) None else ev(dk))
        }
        observations += updates.size
        add(firstFeed + j * every, GtfsRt.TripUpdate(desc, updates))
        if (rnd.nextDouble() < GhostShare) {
          ghosts += 1
          val g = GtfsRt.TripUpdate(GtfsRt.TripDescriptor(Some(s"ghost_$ghosts"), None,
            startTime = Some(hms(t.startSecs)), startDate = Some(date)),
            Seq(GtfsRt.StopTimeUpdate(Some(1), Some(t.stops.head._1), ev(dk0(rnd)), ev(dk0(rnd)))))
          observations += 1
          ghostObs += 1
          add(firstFeed + j * every, g)
        }
      }
    }
    val it = feeds.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      Files.write(dir.resolve(feedName(e.getKey)),
        GtfsRt.encode(GtfsRt.FeedMessage(Some(e.getKey), e.getValue)))
    }
    Expected(feeds.size, observations, ghostObs, recordKeys, vehicles)
  }

  private def dk0(rnd: scala.util.Random): Int = rnd.nextInt(600) - 120
}
