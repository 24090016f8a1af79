package graft.gtfs

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** [[GtfsStatic.tripStops]], the compiled schedule every verb reads,
  * against the two derivations it replaced, kept here as the reference:
  * a `row_number` window over stop_sequence per trip (stop_index,
  * stop_count, the seconds and the first departure), and the route
  * variant as a hash of the JSON array of stop ids sorted by
  * (stop_sequence, stop_id). */
class TripStopsSpec extends SparkSpec {

  private val Columns = Seq("trip_id", "route_id", "route_variant", "stop_sequence",
    "stop_id", "stop_index", "stop_count", "arrival_secs", "departure_secs",
    "first_departure_secs")

  private def secs(c: String) = graft.model.GtfsTime.timeToSecondsColumn(col(c))

  private def reference(trips: DataFrame, stopTimes: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("trip_id")).orderBy(col("stop_sequence"))
    val stops = stopTimes
      .withColumn("stop_index", row_number().over(w) - 1)
      .withColumn("stop_count", count(lit(1)).over(Window.partitionBy(col("trip_id"))).cast("int"))
      .withColumn("arrival_secs", secs("arrival_time"))
      .withColumn("departure_secs", secs("departure_time"))
      .withColumn("first_departure_secs", first(col("departure_secs")).over(w))
    val variants = stopTimes
      .select(col("trip_id"), struct(col("stop_sequence"), col("stop_id")).as("s"))
      .groupBy("trip_id")
      .agg(array_sort(collect_list(col("s"))).as("stops_sorted"))
      .select(col("trip_id"),
        to_json(transform(col("stops_sorted"), _.getField("stop_id"))).as("stop_seq_key"))
    trips.select("trip_id", "route_id")
      .join(variants, Seq("trip_id"))
      .select(col("trip_id"), col("route_id"),
        abs(xxhash64(col("route_id"), col("stop_seq_key"))).as("route_variant"))
      .join(stops, Seq("trip_id"))
      .select(Columns.map(col): _*)
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.select(Columns.map(col): _*).collect().toSeq.sortBy(r => (r.getString(0), r.getInt(5)))

  private def assertMatchesReference(trips: DataFrame, stopTimes: DataFrame): Unit = {
    val got = rows(GtfsStatic.tripStops(trips, stopTimes))
    assert(got.nonEmpty)
    assert(got == rows(reference(trips, stopTimes)))
    val variants = GtfsStatic.routeVariants(trips, stopTimes).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(variants == got.map(r => r.getString(0) -> r.getLong(2)).toMap)
  }

  test("gtfs_tiny: tripStops equals the window and JSON-key derivations") {
    val s = GtfsStatic.read(spark, "fixtures/gtfs_tiny")
    assertMatchesReference(s.trips, s.stopTimes)
    // tB2 runs past midnight: its seconds go past 24 h
    val tB2 = s.tripStops.filter(col("trip_id") === "tB2").orderBy("stop_index")
      .select("stop_index", "stop_count", "departure_secs", "first_departure_secs").collect()
    assert(tB2.map(_.getInt(0)).toSeq == Seq(0, 1, 2))
    assert(tB2.forall(r => r.getInt(1) == 3 && r.getInt(3) == 23 * 3600 + 52 * 60))
    assert(tB2.last.getInt(2) == 24 * 3600 + 42 * 60)
  }

  test("a seeded generated schedule: tripStops equals the reference derivations") {
    import spark.implicits._
    val rnd = new scala.util.Random(20240315L)
    val stopIds = (0 until 40).map(i => s"st$i")
    def hms(t: Int) = f"${t / 3600}%02d:${t / 60 % 60}%02d:${t % 60}%02d"
    val trips = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val stopTimes = scala.collection.mutable.ArrayBuffer[(String, String, String, String, Int)]()
    for (r <- 0 until 6; v <- 0 until 3) {
      val pattern = rnd.shuffle(stopIds).take(3 + rnd.nextInt(8))
      for (t <- 0 until 1 + rnd.nextInt(4)) {
        val id = s"r${r}v${v}t$t"
        trips += ((id, s"r$r"))
        // sparse, increasing stop_sequence values; late trips cross 24 h
        var seq = rnd.nextInt(3)
        var clock = 5 * 3600 + rnd.nextInt(20 * 3600)
        pattern.foreach { stop =>
          val dwell = rnd.nextInt(3) * 30
          stopTimes += ((id, hms(clock), hms(clock + dwell), stop, seq))
          seq += 1 + rnd.nextInt(5)
          clock += dwell + 60 + rnd.nextInt(600)
        }
      }
    }
    val tripsDf = rnd.shuffle(trips.toSeq).toDF("trip_id", "route_id")
    val stopTimesDf = rnd.shuffle(stopTimes.toSeq)
      .toDF("trip_id", "arrival_time", "departure_time", "stop_id", "stop_sequence")
    assertMatchesReference(tripsDf, stopTimesDf)
  }

  test("concatenation-ambiguous stop ids: tripStops equals the reference derivations") {
    import spark.implicits._
    val trips = Seq(("t1", "r1"), ("t2", "r1")).toDF("trip_id", "route_id")
    val stopTimes = Seq(
      ("t1", "08:00:00", "08:00:00", "ab", 1), ("t1", "08:05:00", "08:06:00", "c", 2),
      ("t2", "09:00:00", "09:01:00", "a", 1), ("t2", "09:05:00", "09:05:00", "bc", 2))
      .toDF("trip_id", "arrival_time", "departure_time", "stop_id", "stop_sequence")
    assertMatchesReference(trips, stopTimes)
    val v = GtfsStatic.routeVariants(trips, stopTimes).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v("t1") != v("t2"))
  }

  test("a rewritten stop_times.txt gives the new stop list, never the old one") {
    val dir = tempDir("tripstops_edit")
    copyTree(java.nio.file.Paths.get("fixtures/gtfs_tiny"), dir)
    def kind = graft.operators.SharedRelations.byKind.find(_.kind == "tripstops").get
    def tB1(s: GtfsStatic.Schedule) = {
      val r = s.tripStops.filter(col("trip_id") === "tB1")
        .agg(max("stop_count"), max("route_variant")).head()
      val v = s.tripsWithVariant.filter(col("trip_id") === "tB1")
        .select("route_variant").head().getLong(0)
      (r.getInt(0), r.getLong(1), v)
    }
    val (n0, v0, tv0) = tB1(GtfsStatic.read(spark, dir.toString))
    assert(n0 == 3 && v0 == tv0)
    val misses = kind.misses
    // the same files again: served from the memo
    assert(tB1(GtfsStatic.read(spark, dir.toString)) == ((n0, v0, tv0)))
    assert(kind.misses == misses)
    // tB1 gains a stop after s8
    Files.write(dir.resolve("stop_times.txt"), "tB1,12:50:00,12:51:00,s9,4\n".getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
    val s1 = GtfsStatic.read(spark, dir.toString)
    val (n1, v1, tv1) = tB1(s1)
    assert(kind.misses == misses + 1)
    assert(n1 == 4)
    assert(v1 != v0 && tv1 == v1)
    val expected = reference(s1.trips, s1.stopTimes).filter(col("trip_id") === "tB1")
      .select("route_variant").distinct().head().getLong(0)
    assert(v1 == expected)
    // tB2 keeps its stops, so it no longer shares tB1's variant
    val tB2 = s1.tripsWithVariant.filter(col("trip_id") === "tB2")
      .select("route_variant").head().getLong(0)
    assert(tB2 == v0)
  }
}
