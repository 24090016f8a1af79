package graft

import graft.analyse.{CurvePoint, GeneralCurveRow, StatisticsIO}
import graft.gtfs.GtfsStatic
import graft.model.{EventType, PrecisionType, TimeSlot}
import graft.operators.{GtfsPipeline, SharedRelations}
import graft.predict.{PointPredictor, Predictor}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardOpenOption}

/** `Graft.predictorFor` serves one all-route point lookup per snapshot of
  * the statistics and routes files: a warm request runs no Spark job, a
  * rewritten statistics store is a rebuild, and the all-route lookup
  * answers every request exactly as the route-pruned build does. */
class ServingSnapshotSpec extends SparkSpec {

  private def predictorKind = SharedRelations.byKind.find(_.kind == "predictor")

  /** A temp copy of gtfs_tiny whose routes.txt also lists routes "07"
    * and "7" (route "rX" has statistics but stays unlisted). */
  private lazy val gtfs = {
    val dir = tempDir("snapshot_gtfs")
    copyTree(Paths.get("fixtures/gtfs_tiny"), dir)
    Files.write(dir.resolve("routes.txt"), "07,ag1,07,3\n7,ag1,7,3\n".getBytes("UTF-8"),
      StandardOpenOption.APPEND)
    dir.toString
  }

  private lazy val schedule = GtfsStatic.read(spark, gtfs)

  /** gtfs_tiny's statistics plus general curves for routes "07", "7"
    * (two routes, not one) and "rX" (missing from routes.txt). */
  private lazy val statsDir = {
    import spark.implicits._
    val base = tempDir("snapshot_base").toString
    val tiny = StatisticsIO.computeAndSave(GtfsPipeline.records(spark), schedule, base)
    def row(route: String, stop: Int, n: Int) = GeneralCurveRow(route, 1L, stop,
      EventType.Arrival, TimeSlot.Default.id, PrecisionType.SemiSpecific, n,
      Seq(CurvePoint(0f, 0f), CurvePoint(60f + n, 1f)))
    val extra = Seq(row("07", 1, 30), row("7", 1, 40), row("rX", 1, 50), row("rX", 2, 55))
      .toDF().select(tiny.general.columns.map(col): _*)
    val dir = tempDir("snapshot_stats").toString
    StatisticsIO.save(dir, tiny.general.unionByName(extra), tiny.curveSets, tiny.defaults)
    dir
  }

  private def answer(p: PointPredictor, route: String, variant: Long, stop: Int,
                     stopCount: Int, start: Option[Int], delay: Option[Int],
                     event: Int, at: java.time.LocalDateTime) =
    p.predict(route, variant, stop, stopCount, start, delay, event, at)
      .map(r => (r.precisionType, r.sampleSize, r.curve, r.curveSet))

  test("the all-route snapshot answers every request as the route-pruned lookup does") {
    val stats = StatisticsIO.load(spark, statsDir)
    val served = Graft.predictorFor(spark, statsDir, gtfs, "rA")
    val variants = stats.general.select("route_id", "route_variant", "stop_index")
      .union(stats.curveSets.select("route_id", "route_variant", "end_stop_index"))
      .groupBy("route_id", "route_variant").agg(max("stop_index").as("last"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    assert(Set("rA", "07", "7", "rX").subsetOf(variants.map(_._1).toSet), variants)
    // a Friday (every workday slot), a Saturday and a Sunday
    val times = (0 until 24).map(h => java.time.LocalDateTime.of(2024, 3, 15, h, 30)) ++
      Seq(3, 9, 13, 17, 21).flatMap(h => Seq(16, 17).map(d =>
        java.time.LocalDateTime.of(2024, 3, d, h, 30)))
    val rungs = scala.collection.mutable.Set[Int]()
    var requests = 0
    for ((route, variants) <- variants.groupBy(_._1)) {
      val pruned = Predictor.pointLookup(stats.general, stats.curveSets, stats.defaults,
        schedule.routes, Some(route))
      for ((_, variant, last) <- variants; stop <- 0 to last + 1;
           start <- None +: (0 until stop).map(Some(_));
           delay <- if (start.isEmpty) Seq(None) else Seq(None, Some(0), Some(150));
           event <- Seq(EventType.Arrival, EventType.Departure); at <- times) {
        val want = answer(pruned, route, variant, stop, last + 1, start, delay, event, at)
        assert(answer(served, route, variant, stop, last + 1, start, delay, event, at) == want,
          s"$route $variant $stop $start $delay $event $at")
        want.foreach(w => rungs += w._1)
        requests += 1
      }
    }
    // the enumeration reaches the curve-set, per-stop and default rungs
    assert(rungs(PrecisionType.SemiSpecific) && rungs.size >= 3, rungs)
    assert(requests > 1000)
    def sampleSize(route: String) =
      served.predict(route, 1L, 1, 3, None, None, EventType.Arrival, times.head).map(_.sampleSize)
    assert(sampleSize("07").contains(30) && sampleSize("7").contains(40))
    assert(sampleSize("rX").contains(50), "a route missing from routes.txt keeps its curves")
  }

  test("N requests on one snapshot: one build, N-1 hits, no Spark job after the first") {
    val dir = tempDir("snapshot_n")
    copyTree(Paths.get(statsDir), dir) // a snapshot no earlier request has seen
    val n = 5
    val before = predictorKind.fold((0L, 0L))(k => (k.hits, k.misses))
    val first = Graft.predictorFor(spark, dir.toString, gtfs, "rA")
    (2 to n).foreach { _ =>
      var p: PointPredictor = null
      assert(jobsDuring { p = Graft.predictorFor(spark, dir.toString, gtfs, "rB") } == 0)
      assert(p eq first)
    }
    val after = predictorKind.get
    assert((after.misses - before._2, after.hits - before._1) == ((1L, n - 1L)))
  }

  test("analyse into the same statsDir: the next request answers from the new statistics") {
    val dir = tempDir("snapshot_rewrite").toString
    val records = GtfsPipeline.records(spark)
    StatisticsIO.computeAndSave(records, schedule, dir)
    val general = StatisticsIO.load(spark, dir).general
      .filter(col("time_slot_id") === TimeSlot.Default.id)
      .select("route_id", "route_variant", "stop_index", "event_type", "sample_size")
      .orderBy(col("sample_size").desc).head()
    def served() = Graft.predictorFor(spark, dir, gtfs, general.getString(0)).predict(
      general.getString(0), general.getLong(1), general.getInt(2), general.getInt(2) + 2,
      None, None, general.getInt(3), java.time.LocalDateTime.of(2024, 3, 15, 8, 30))
      .map(_.sampleSize)
    assert(served().contains(general.getInt(4)))
    val misses = predictorKind.get.misses
    // about half the history: every curve is built from fewer samples
    val fewer = records.filter(col("trip_start_date") < lit("2024-03-25"))
    StatisticsIO.computeAndSave(fewer, schedule, dir)
    val stats = StatisticsIO.load(spark, dir)
    val want = Predictor.pointLookup(stats.general, stats.curveSets, stats.defaults,
      schedule.routes).predict(general.getString(0), general.getLong(1), general.getInt(2),
      general.getInt(2) + 2, None, None, general.getInt(3),
      java.time.LocalDateTime.of(2024, 3, 15, 8, 30)).map(_.sampleSize)
    assert(want.nonEmpty && want != Some(general.getInt(4)))
    assert(served() == want)
    assert(predictorKind.get.misses == misses + 1)
  }
}
