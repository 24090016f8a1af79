package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.analyse.DelayAnalysis
import graft.gtfs.{GtfsStatic, RtIngest}

/** The engine's own domain, end to end, over the committed fixtures:
  * GTFS static + 40 realtime feeds → records → curve statistics →
  * predictions. These registry entries are rows-only for the driver (the
  * curve math has no SQL twin — its correctness is pinned by the
  * DelayAnalysis/Predictor specs against the pure-Scala CurveBuilder); they
  * exist so the full reference pipeline (SURVEY.md §3.1-§3.3) runs under
  * the driver's smoke/correctness harness too. */
object GtfsPipeline {

  private val fixtureDir = "/root/repo/fixtures"

  def records(s: SparkSession): DataFrame = {
    val schedule = GtfsStatic.read(s, s"$fixtureDir/gtfs_tiny")
    RtIngest.records(
      RtIngest.readFeeds(s, s"$fixtureDir/rt_tiny"), schedule,
      source = "rt_tiny", scheduleFileName = "gtfs_tiny")
  }

  /** The RtFixtureGen arithmetic as a DuckDB CTE: i = 0..39 weekday
    * mornings from 2024-03-04, tA1 delays 12i / 12i+24 / 12i+48 at stop
    * sequences 1/2/4 (stop 3 absent — the W1 gap), tB2 every 5th day.
    * The GOLDEN side of the q40/q53 oracles: the generator spec is the
    * ground truth the whole decode→match→ingest pipeline must reproduce. */
  private val goldenRecordsCte =
    """days AS (SELECT i, DATE '2024-03-04' + INTERVAL ((i//5)*7 + (i%5)) DAY AS d
      |  FROM (SELECT unnest(range(40)) AS i)),
      |recs AS (
      |  SELECT 'rA' AS route_id, 'tA1' AS trip_id, d AS trip_start_date, 1 AS stop_sequence,
      |         CAST(NULL AS INTEGER) AS delay_arrival, CAST(12*i AS INTEGER) AS delay_departure FROM days
      |  UNION ALL SELECT 'rA','tA1',d,2,12*i+24,12*i+24 FROM days
      |  UNION ALL SELECT 'rA','tA1',d,4,12*i+48,NULL FROM days
      |  UNION ALL SELECT 'rB','tB2',d,2,30+i,35+i FROM days WHERE i%5=0)""".stripMargin

  private def slotCaseSql(ts: String): String =
    graft.model.TimeSlot.duckDbCaseSql(ts)

  /** C6 as DuckDB SQL (RouteSection.byStopIndex: size = min(5, count/3)). */
  private def sectionCaseSql(idx: String, cnt: String): String =
    s"CASE WHEN $idx < LEAST(5, $cnt // 3) THEN 0 " +
      s"WHEN $cnt - $idx <= LEAST(5, $cnt // 3) THEN 2 ELSE 1 END"

  /** Shared DuckDB CTEs for the monitor surrogates: active services over
    * the 2-day prediction horizon (q55's proven calendar logic), indexed
    * stop lists, trips/routes, and the per-(trip, service-day) event rows. */
  private val monitorScheduleCtes =
    s"""hdays AS (SELECT unnest([DATE '2024-03-15', DATE '2024-03-16']) AS d),
       |cal AS (SELECT * FROM read_csv_auto('$fixtureDir/gtfs_tiny/calendar.txt', header=true)),
       |cd AS (SELECT * FROM read_csv_auto('$fixtureDir/gtfs_tiny/calendar_dates.txt', header=true)),
       |svc AS (
       |  SELECT d, service_id FROM hdays, cal
       |  WHERE CASE isodow(d) WHEN 1 THEN monday WHEN 2 THEN tuesday
       |      WHEN 3 THEN wednesday WHEN 4 THEN thursday WHEN 5 THEN friday
       |      WHEN 6 THEN saturday ELSE sunday END = 1
       |    AND start_date <= CAST(strftime(d, '%Y%m%d') AS INT)
       |    AND end_date >= CAST(strftime(d, '%Y%m%d') AS INT)
       |  UNION
       |  SELECT d, service_id FROM hdays JOIN cd
       |    ON cd.date = CAST(strftime(d, '%Y%m%d') AS INT) AND cd.exception_type = 1),
       |active AS (SELECT * FROM svc s WHERE NOT EXISTS (
       |  SELECT 1 FROM cd WHERE cd.service_id = s.service_id
       |    AND cd.date = CAST(strftime(s.d, '%Y%m%d') AS INT) AND cd.exception_type = 2)),
       |st AS (SELECT trip_id, CAST(stop_sequence AS INT) AS stop_sequence, stop_id,
       |    ROW_NUMBER() OVER (PARTITION BY trip_id ORDER BY CAST(stop_sequence AS INT)) - 1 AS stop_index,
       |    CAST(COUNT(*) OVER (PARTITION BY trip_id) AS INT) AS stop_count,
       |    CAST(split_part(arrival_time,':',1) AS INT)*3600 + CAST(split_part(arrival_time,':',2) AS INT)*60
       |      + CAST(split_part(arrival_time,':',3) AS INT) AS arr_secs,
       |    CAST(split_part(departure_time,':',1) AS INT)*3600 + CAST(split_part(departure_time,':',2) AS INT)*60
       |      + CAST(split_part(departure_time,':',3) AS INT) AS dep_secs
       |  FROM read_csv_auto('$fixtureDir/gtfs_tiny/stop_times.txt', header=true)),
       |tr AS (SELECT * FROM read_csv_auto('$fixtureDir/gtfs_tiny/trips.txt', header=true)),
       |rts AS (SELECT route_id, CAST(route_short_name AS VARCHAR) AS route_short_name,
       |    CAST(route_type AS INT) AS route_type
       |  FROM read_csv_auto('$fixtureDir/gtfs_tiny/routes.txt', header=true)),
       |runs AS (
       |  SELECT t.route_id, t.trip_id, a.d AS trip_start_date, st.*
       |  FROM active a
       |  JOIN tr t ON t.service_id = a.service_id
       |  JOIN st ON st.trip_id = t.trip_id)""".stripMargin

  /** The q82 oracle: the departure board's full relational skeleton —
    * request generation, ladder resolution to a precision code + sample
    * size, curve SUPPORT end points, F5/F6/F7 filters, J6 metadata —
    * re-derived in DuckDB. See the q82 registry comment for the argument
    * that every projected fact is an integer function of the delay
    * multisets (makeCurve emits sorted distinct values skipping a leading
    * exact 0.0; simplify/average/capPoints preserve end points; averaged
    * sample sizes use the reference's integer division). */
  /** The ladder-resolution CTE block shared by the q82 board skeleton
    * and the q42s prediction skeleton: structural variant keys, W1
    * gap-fill, per-(variant, stop, event) general-curve availability
    * (the >=20 / >=2-emitted-points integer surrogate of makeCurve),
    * and the default-grid cascade with its integer-div sample
    * averaging. Assumes $goldenRecordsCte and $monitorScheduleCtes are
    * already in scope. */
  private val ladderCtes = {
    val leafInstant =
      "(CAST(r.trip_start_date AS TIMESTAMP) + INTERVAL (COALESCE(s.arr_secs, s.dep_secs)) SECOND)"
    s"""vkeys AS (SELECT s.trip_id, t.route_id || '|' || string_agg(s.stop_id, ',' ORDER BY s.stop_index) AS vkey
       |  FROM st s JOIN tr t ON t.trip_id = s.trip_id
       |  GROUP BY s.trip_id, t.route_id),
       |vehicles AS (SELECT DISTINCT trip_id, trip_start_date FROM recs),
       |filled AS (SELECT g.trip_id, s.stop_index,
       |    last_value(r.delay_arrival IGNORE NULLS) OVER w AS da,
       |    last_value(r.delay_departure IGNORE NULLS) OVER w AS dd
       |  FROM vehicles g
       |  JOIN st s ON s.trip_id = g.trip_id
       |  LEFT JOIN recs r ON r.trip_id = g.trip_id AND r.trip_start_date = g.trip_start_date
       |    AND r.stop_sequence = s.stop_sequence
       |  WINDOW w AS (PARTITION BY g.trip_id, g.trip_start_date ORDER BY s.stop_index
       |               ROWS UNBOUNDED PRECEDING)),
       |genev AS (
       |  SELECT v.vkey, f.stop_index, e.event_type, e.delay
       |  FROM filled f
       |  JOIN vkeys v ON v.trip_id = f.trip_id,
       |  LATERAL (SELECT unnest([1, 2]) AS event_type, unnest([f.da, f.dd]) AS delay) e
       |  WHERE e.delay IS NOT NULL),
       |gen AS (
       |  SELECT vkey, stop_index, event_type, CAST(COUNT(*) AS INT) AS gen_n,
       |    CASE WHEN MIN(delay) = 0 THEN MIN(CASE WHEN delay <> 0 THEN delay END)
       |         ELSE MIN(delay) END AS gen_minx,
       |    MAX(delay) AS gen_maxx
       |  FROM genev GROUP BY 1, 2, 3
       |  HAVING COUNT(*) >= 20
       |    AND COUNT(DISTINCT delay) - (CASE WHEN MIN(delay) = 0 THEN 1 ELSE 0 END) >= 2),
       |leafbase AS (
       |  SELECT rt2.route_type,
       |    ${sectionCaseSql("s.stop_index", "s.stop_count")} AS route_section,
       |    ${slotCaseSql(leafInstant)} AS time_slot_id,
       |    e.event_type, v.vkey AS variant, e.delay
       |  FROM recs r
       |  JOIN st s ON s.trip_id = r.trip_id AND s.stop_sequence = r.stop_sequence
       |  JOIN tr t ON t.trip_id = r.trip_id
       |  JOIN rts rt2 ON rt2.route_id = t.route_id
       |  JOIN vkeys v ON v.trip_id = r.trip_id,
       |  LATERAL (SELECT unnest([1, 2]) AS event_type,
       |           unnest([r.delay_arrival, r.delay_departure]) AS delay) e
       |  WHERE e.delay IS NOT NULL),
       |leaves AS (
       |  SELECT route_type, route_section, time_slot_id, event_type, variant,
       |    CAST(COUNT(*) AS INT) AS n,
       |    CASE WHEN MIN(delay) = 0 THEN MIN(CASE WHEN delay <> 0 THEN delay END)
       |         ELSE MIN(delay) END AS minx,
       |    MAX(delay) AS maxx
       |  FROM leafbase GROUP BY 1, 2, 3, 4, 5
       |  HAVING COUNT(*) >= 10
       |    AND COUNT(DISTINCT delay) - (CASE WHEN MIN(delay) = 0 THEN 1 ELSE 0 END) >= 2),
       |cellavg AS (SELECT route_type, route_section, time_slot_id, event_type,
       |    CAST(SUM(n) // COUNT(*) AS INT) AS cell_n,
       |    MIN(minx) AS cell_minx, MAX(maxx) AS cell_maxx
       |  FROM leaves GROUP BY 1, 2, 3, 4),
       |poolavg AS (SELECT route_type, event_type,
       |    CAST(SUM(n) // COUNT(*) AS INT) AS pool_n,
       |    MIN(minx) AS pool_minx, MAX(maxx) AS pool_maxx
       |  FROM leaves GROUP BY 1, 2),
       |globavg AS (SELECT CAST(SUM(n) // COUNT(*) AS INT) AS g_n,
       |    MIN(minx) AS g_minx, MAX(maxx) AS g_maxx FROM leaves)""".stripMargin
  }

  private val boardSkeletonSql = {
    s"""WITH $goldenRecordsCte,
       |$monitorScheduleCtes,
       |$ladderCtes,
       |board AS (
       |  SELECT b.route_id, b.trip_id, b.trip_start_date, b.stop_sequence, b.stop_id,
       |    b.stop_index, b.stop_count,
       |    CAST(b.trip_start_date AS TIMESTAMP) + INTERVAL (b.dep_secs) SECOND AS event_instant
       |  FROM runs b
       |  WHERE b.stop_id IN ('s1', 's2', 's3')
       |    AND b.stop_index < b.stop_count - 1),
       |board2 AS (
       |  SELECT b.*, ${slotCaseSql("b.event_instant")} AS slot,
       |    ${sectionCaseSql("b.stop_index", "b.stop_count")} AS sec
       |  FROM board b),
       |resolved AS (
       |  SELECT b.trip_id, b.trip_start_date, b.stop_id, b.stop_sequence,
       |    rt2.route_short_name, t.trip_headsign, rt2.route_type,
       |    CAST(CASE WHEN g.gen_n IS NOT NULL THEN 2
       |         WHEN c.cell_n IS NOT NULL THEN 3
       |         WHEN p.pool_n IS NOT NULL THEN 4
       |         ELSE 5 END AS INT) AS precision_type,
       |    CAST(COALESCE(g.gen_n, c.cell_n, p.pool_n, gl.g_n) AS INT) AS sample_size,
       |    CAST(2 AS INT) AS origin_type,
       |    b.event_instant,
       |    b.event_instant + INTERVAL (COALESCE(g.gen_minx, c.cell_minx, p.pool_minx, gl.g_minx)) SECOND AS prediction_min,
       |    b.event_instant + INTERVAL (COALESCE(g.gen_maxx, c.cell_maxx, p.pool_maxx, gl.g_maxx)) SECOND AS prediction_max
       |  FROM board2 b
       |  JOIN tr t ON t.trip_id = b.trip_id
       |  JOIN rts rt2 ON rt2.route_id = b.route_id
       |  JOIN vkeys v ON v.trip_id = b.trip_id
       |  LEFT JOIN gen g ON g.vkey = v.vkey AND g.stop_index = b.stop_index AND g.event_type = 2
       |  LEFT JOIN cellavg c ON c.route_type = rt2.route_type AND c.route_section = b.sec
       |    AND c.time_slot_id = b.slot AND c.event_type = 2
       |  LEFT JOIN poolavg p ON p.route_type = rt2.route_type AND p.event_type = 2
       |  CROSS JOIN globavg gl)
       |SELECT trip_id, trip_start_date, stop_id, stop_sequence, route_short_name,
       |  trip_headsign, route_type, precision_type, sample_size, origin_type,
       |  event_instant, prediction_min, prediction_max
       |FROM resolved
       |WHERE prediction_min < TIMESTAMP '2024-03-17 00:00:00'
       |  AND prediction_max > TIMESTAMP '2024-03-15 00:00:00'
       |ORDER BY trip_start_date, trip_id, stop_sequence""".stripMargin
  }

  /** The q83 oracle: transfersBanded's pair skeleton — stop-pair equi-join,
    * time band (slack 259200 s, slack+horizon 518400 s), trip inequality —
    * from the GTFS CSVs alone. */
  private val transferSkeletonSql =
    s"""WITH $monitorScheduleCtes,
       |arr AS (SELECT r.trip_id,
       |    CAST(epoch(CAST(r.trip_start_date AS TIMESTAMP) + INTERVAL (r.arr_secs) SECOND) AS BIGINT) AS ref
       |  FROM runs r WHERE r.stop_id = 's2'),
       |dep AS (SELECT r.trip_id,
       |    CAST(epoch(CAST(r.trip_start_date AS TIMESTAMP) + INTERVAL (r.dep_secs) SECOND) AS BIGINT) AS ref
       |  FROM runs r WHERE r.stop_id = 's3')
       |SELECT a.trip_id AS arrival_trip, 's2' AS arrival_stop,
       |  d.trip_id AS departure_trip, 's3' AS departure_stop
       |FROM arr a JOIN dep d
       |  ON d.ref >= a.ref - 259200 AND d.ref <= a.ref + 518400
       |WHERE a.trip_id <> d.trip_id
       |ORDER BY arrival_trip, departure_trip""".stripMargin

  /** The q42s oracle (r10 verdict stretch #8): the scheduled-prediction
    * LADDER resolved for EVERY request row — both event types, all
    * stops, the full 2-day horizon — to its integer facts (precision
    * code + sample size). Scheduled requests carry no realtime basis,
    * so the ladder is exactly the board's (SemiSpecific general curve,
    * else the default-grid cascade), event-generic instead of pinned to
    * departures; see [[ladderCtes]]. Curve bytes stay with the golden
    * pins (GtfsGoldenPinSpec). */
  private val predictionSkeletonSql =
    s"""WITH $goldenRecordsCte,
       |$monitorScheduleCtes,
       |$ladderCtes,
       |reqs AS (
       |  SELECT r.route_id, r.trip_id, r.trip_start_date, r.stop_sequence,
       |    r.stop_index, r.stop_count, e.event_type,
       |    CAST(r.trip_start_date AS TIMESTAMP) + INTERVAL (e.secs) SECOND AS event_instant
       |  FROM runs r,
       |  LATERAL (SELECT unnest([1, 2]) AS event_type,
       |           unnest([r.arr_secs, r.dep_secs]) AS secs) e),
       |reqs2 AS (SELECT r.*, ${slotCaseSql("r.event_instant")} AS slot,
       |    ${sectionCaseSql("r.stop_index", "r.stop_count")} AS sec
       |  FROM reqs r),
       |resolved AS (
       |  SELECT b.route_id, b.trip_id, b.trip_start_date, b.stop_sequence,
       |    b.event_type,
       |    CAST(CASE WHEN g.gen_n IS NOT NULL THEN 2
       |         WHEN c.cell_n IS NOT NULL THEN 3
       |         WHEN p.pool_n IS NOT NULL THEN 4
       |         ELSE 5 END AS INT) AS precision_type,
       |    CAST(COALESCE(g.gen_n, c.cell_n, p.pool_n, gl.g_n) AS INT) AS sample_size
       |  FROM reqs2 b
       |  JOIN rts rt2 ON rt2.route_id = b.route_id
       |  JOIN vkeys v ON v.trip_id = b.trip_id
       |  LEFT JOIN gen g ON g.vkey = v.vkey AND g.stop_index = b.stop_index
       |    AND g.event_type = b.event_type
       |  LEFT JOIN cellavg c ON c.route_type = rt2.route_type
       |    AND c.route_section = b.sec AND c.time_slot_id = b.slot
       |    AND c.event_type = b.event_type
       |  LEFT JOIN poolavg p ON p.route_type = rt2.route_type
       |    AND p.event_type = b.event_type
       |  CROSS JOIN globavg gl)
       |SELECT route_id, trip_id, trip_start_date, stop_sequence, event_type,
       |  precision_type, sample_size
       |FROM resolved
       |ORDER BY trip_start_date, trip_id, stop_sequence, event_type""".stripMargin

  /** The q41s oracle (r10 verdict stretch #8): the q53 pair-stream facts
    * RE-KEYED by the structural route variant — the ordered stop list,
    * i.e. the injective PREIMAGE of the xxhash64 route_variant, which IS
    * SQL-derivable where the hash is not. Verifies that q41's curve-set
    * group universe (variant attribution + F9 >20 gate + Default-slot
    * duplication + exact integer delay sums) is right; the adaptive
    * sample_size and curve bytes stay with the golden pins. */
  private val curvesetSkeletonSql =
    s"""WITH $goldenRecordsCte,
       |st AS (SELECT trip_id, CAST(stop_sequence AS INT) AS stop_sequence,
       |    stop_id,
       |    ROW_NUMBER() OVER (PARTITION BY trip_id ORDER BY CAST(stop_sequence AS INT)) - 1 AS stop_index,
       |    CAST(split_part(arrival_time,':',1) AS INT)*3600 + CAST(split_part(arrival_time,':',2) AS INT)*60
       |      + CAST(split_part(arrival_time,':',3) AS INT) AS arr_secs,
       |    CAST(split_part(departure_time,':',1) AS INT)*3600 + CAST(split_part(departure_time,':',2) AS INT)*60
       |      + CAST(split_part(departure_time,':',3) AS INT) AS dep_secs
       |  FROM read_csv_auto('$fixtureDir/gtfs_tiny/stop_times.txt', header=true)),
       |tr AS (SELECT * FROM read_csv_auto('$fixtureDir/gtfs_tiny/trips.txt', header=true)),
       |vkeys AS (SELECT s.trip_id, t.route_id || '|' || string_agg(s.stop_id, ',' ORDER BY s.stop_index) AS vkey
       |  FROM st s JOIN tr t ON t.trip_id = s.trip_id
       |  GROUP BY s.trip_id, t.route_id),
       |vehicles AS (SELECT DISTINCT trip_id, trip_start_date FROM recs),
       |filled AS (SELECT g.trip_id, g.trip_start_date, s.stop_index,
       |    last_value(r.delay_arrival IGNORE NULLS) OVER w AS da,
       |    last_value(r.delay_departure IGNORE NULLS) OVER w AS dd,
       |    CAST(g.trip_start_date AS TIMESTAMP) + INTERVAL (s.dep_secs) SECOND AS dep_instant
       |  FROM (SELECT v.trip_id, v.trip_start_date FROM vehicles v) g
       |  JOIN st s ON s.trip_id = g.trip_id
       |  LEFT JOIN recs r ON r.trip_id = g.trip_id AND r.trip_start_date = g.trip_start_date
       |    AND r.stop_sequence = s.stop_sequence
       |  WINDOW w AS (PARTITION BY g.trip_id, g.trip_start_date ORDER BY s.stop_index
       |               ROWS UNBOUNDED PRECEDING)),
       |starts AS (SELECT trip_id, trip_start_date, stop_index AS start_idx,
       |    (dd//12)*12 AS start_delay, ${slotCaseSql("dep_instant")} AS slot
       |  FROM filled WHERE dd IS NOT NULL AND abs(dd) < 3000),
       |ends AS (
       |  SELECT trip_id, trip_start_date, stop_index AS end_idx, 1 AS event_type,
       |    (da//12)*12 AS end_delay FROM filled WHERE da IS NOT NULL AND abs(da) < 3000
       |  UNION ALL SELECT trip_id, trip_start_date, stop_index, 2,
       |    (dd//12)*12 FROM filled WHERE dd IS NOT NULL AND abs(dd) < 3000),
       |pairs AS (
       |  SELECT t.route_id, v.vkey, s.start_idx, e.end_idx,
       |    sl.slot AS time_slot_id, e.event_type, s.start_delay, e.end_delay
       |  FROM starts s
       |  JOIN ends e ON e.trip_id = s.trip_id AND e.trip_start_date = s.trip_start_date
       |    AND e.end_idx > s.start_idx
       |  JOIN tr t ON t.trip_id = s.trip_id
       |  JOIN vkeys v ON v.trip_id = s.trip_id,
       |  LATERAL (SELECT unnest([s.slot, ${graft.model.TimeSlot.Default.id}]) AS slot) sl)
       |SELECT route_id, vkey, start_idx AS start_stop_index,
       |  end_idx AS end_stop_index, time_slot_id, event_type,
       |  COUNT(*) AS n_pairs,
       |  CAST(SUM(start_delay) AS BIGINT) AS sum_start_delay,
       |  CAST(SUM(end_delay) AS BIGINT) AS sum_end_delay
       |FROM pairs GROUP BY 1,2,3,4,5,6 HAVING COUNT(*) > 20
       |ORDER BY 1,2,3,4,5,6""".stripMargin

  val registry: Map[String, QueryDef] = Map(
    // §3.1 ingest: feeds -> records (J1/J2/F4/W2). Oracle: the pipeline
    // output must equal the feed GENERATOR's arithmetic — a golden
    // end-to-end check of protobuf decode + schedule join + ghost-trip
    // drop + dedup, in pure SQL.
    "q40_gtfs_records" -> QueryDef(
      (s, _) => fixtureRecords(s)
        .select("route_id", "trip_id", "trip_start_date", "stop_sequence",
          "delay_arrival", "delay_departure")
        .orderBy("trip_start_date", "trip_id", "stop_sequence"),
      Some(s"""WITH $goldenRecordsCte
             |SELECT * FROM recs
             |ORDER BY trip_start_date, trip_id, stop_sequence""".stripMargin)),

    // §3.2 analyse: records -> stop-pair curve sets (W1+J3+A3/A6/A7);
    // rows-only (adaptive-marker sample_size and curve contents have no
    // SQL twin — GoldenParitySpec pins them; q53 hash-checks the pair
    // stream underneath)
    "q41_gtfs_curvesets" -> QueryDef(
      (s, _) => {
        DelayAnalysis.stopPairCurveSets(fixtureProjected(s))
          .select(col("route_id"), col("route_variant"),
            col("start_stop_index"), col("end_stop_index"),
            col("time_slot_id"), col("event_type"), col("sample_size"),
            size(col("curves")).as("n_curves"))
          .orderBy("route_id", "route_variant", "start_stop_index",
            "end_stop_index", "time_slot_id", "event_type")
      },
      None),

    // the pair-row stream under q41, aggregated to SQL-checkable facts:
    // per (pair, slot, event) group the row count and EXACT integer sums
    // of the rounded start/end delays — verifying W1 gap-fill, F2
    // threshold, F3 rounding, C5 slot assignment, Default-slot
    // duplication and the F9 >20 gate against a DuckDB reimplementation
    // joined to the golden feed arithmetic.
    "q53_gtfs_pair_stats" -> QueryDef(
      (s, _) => {
        DelayAnalysis.stopPairRows(fixtureProjected(s))
          .groupBy(col("route_id"),
            col("start_idx").as("start_stop_index"),
            col("end_idx").as("end_stop_index"),
            col("time_slot_id"), col("event_type"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("start_delay").cast("long")).as("sum_start_delay"),
            sum(col("end_delay").cast("long")).as("sum_end_delay"))
          .filter(col("n_pairs") > 20)
          .orderBy("route_id", "start_stop_index", "end_stop_index",
            "time_slot_id", "event_type")
      },
      Some(s"""WITH $goldenRecordsCte,
             |st AS (SELECT trip_id, CAST(stop_sequence AS INT) AS stop_sequence,
             |    ROW_NUMBER() OVER (PARTITION BY trip_id ORDER BY CAST(stop_sequence AS INT)) - 1 AS stop_index,
             |    CAST(split_part(arrival_time,':',1) AS INT)*3600 + CAST(split_part(arrival_time,':',2) AS INT)*60
             |      + CAST(split_part(arrival_time,':',3) AS INT) AS arr_secs,
             |    CAST(split_part(departure_time,':',1) AS INT)*3600 + CAST(split_part(departure_time,':',2) AS INT)*60
             |      + CAST(split_part(departure_time,':',3) AS INT) AS dep_secs
             |  FROM read_csv_auto('$fixtureDir/gtfs_tiny/stop_times.txt', header=true)),
             |vehicles AS (SELECT DISTINCT trip_id, trip_start_date FROM recs),
             |filled AS (SELECT g.trip_id, g.trip_start_date, s.stop_index,
             |    last_value(r.delay_arrival IGNORE NULLS) OVER w AS da,
             |    last_value(r.delay_departure IGNORE NULLS) OVER w AS dd,
             |    CAST(g.trip_start_date AS TIMESTAMP) + INTERVAL (s.dep_secs) SECOND AS dep_instant
             |  FROM (SELECT v.trip_id, v.trip_start_date FROM vehicles v) g
             |  JOIN st s ON s.trip_id = g.trip_id
             |  LEFT JOIN recs r ON r.trip_id = g.trip_id AND r.trip_start_date = g.trip_start_date
             |    AND r.stop_sequence = s.stop_sequence
             |  WINDOW w AS (PARTITION BY g.trip_id, g.trip_start_date ORDER BY s.stop_index
             |               ROWS UNBOUNDED PRECEDING)),
             |starts AS (SELECT trip_id, trip_start_date, stop_index AS start_idx,
             |    (dd//12)*12 AS start_delay, ${slotCaseSql("dep_instant")} AS slot
             |  FROM filled WHERE dd IS NOT NULL AND abs(dd) < 3000),
             |ends AS (
             |  SELECT trip_id, trip_start_date, stop_index AS end_idx, 1 AS event_type,
             |    (da//12)*12 AS end_delay FROM filled WHERE da IS NOT NULL AND abs(da) < 3000
             |  UNION ALL SELECT trip_id, trip_start_date, stop_index, 2,
             |    (dd//12)*12 FROM filled WHERE dd IS NOT NULL AND abs(dd) < 3000),
             |pairs AS (
             |  SELECT t.route_id, s.start_idx, e.end_idx, sl.slot AS time_slot_id,
             |    e.event_type, s.start_delay, e.end_delay
             |  FROM starts s
             |  JOIN ends e ON e.trip_id = s.trip_id AND e.trip_start_date = s.trip_start_date
             |    AND e.end_idx > s.start_idx
             |  JOIN read_csv_auto('$fixtureDir/gtfs_tiny/trips.txt', header=true) t
             |    ON t.trip_id = s.trip_id,
             |  LATERAL (SELECT unnest([s.slot, ${graft.model.TimeSlot.Default.id}]) AS slot) sl)
             |SELECT route_id, start_idx AS start_stop_index, end_idx AS end_stop_index,
             |  time_slot_id, event_type, COUNT(*) AS n_pairs,
             |  CAST(SUM(start_delay) AS BIGINT) AS sum_start_delay,
             |  CAST(SUM(end_delay) AS BIGINT) AS sum_end_delay
             |FROM pairs GROUP BY 1,2,3,4,5 HAVING COUNT(*) > 20
             |ORDER BY 1,2,3,4,5""".stripMargin)),

    // §3.2+§3.3: records -> default curves -> scheduled predictions ladder
    "q42_gtfs_predictions" -> QueryDef(
      (s, _) => {
        val (schedule, preds) = fixturePredictions(s)
        preds
          .select(col("route_id"), col("trip_id"), col("trip_start_date"),
            col("stop_sequence"), col("event_type"), col("precision_type"),
            col("sample_size"), size(col("prediction_curve")).as("n_points"))
          .orderBy("trip_start_date", "trip_id", "stop_sequence", "event_type")
      },
      None),

    // q41's INTEGER-FACT skeleton (r10 verdict stretch #8, the q82/q83
    // pattern): the curve-set group universe — variant attribution, F9
    // >20 gate, Default-slot duplication, exact integer delay sums —
    // re-keyed by the STRUCTURAL route variant (the ordered stop list,
    // the injective preimage of the xxhash64 route_variant) so DuckDB
    // can re-derive it. The adaptive sample_size and curve bytes stay
    // with GtfsGoldenPinSpec.
    "q41s_curveset_skeleton" -> QueryDef(
      (s, _) => {
        DelayAnalysis.stopPairRows(fixtureProjected(s))
          .groupBy(col("route_id"), col("route_variant"),
            col("start_idx").as("start_stop_index"),
            col("end_idx").as("end_stop_index"),
            col("time_slot_id"), col("event_type"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("start_delay").cast("long")).as("sum_start_delay"),
            sum(col("end_delay").cast("long")).as("sum_end_delay"))
          .filter(col("n_pairs") > 20)
          .join(variantKeys(s), Seq("route_id", "route_variant"))
          .select(col("route_id"), col("vkey"), col("start_stop_index"),
            col("end_stop_index"), col("time_slot_id"), col("event_type"),
            col("n_pairs"), col("sum_start_delay"), col("sum_end_delay"))
          .orderBy("route_id", "vkey", "start_stop_index",
            "end_stop_index", "time_slot_id", "event_type")
      },
      Some(curvesetSkeletonSql)),

    // q42's INTEGER-FACT skeleton (r10 verdict stretch #8): every
    // scheduled-prediction row's ladder resolution — precision code +
    // sample size per (trip, date, stop, event) — re-derived in DuckDB
    // over the GTFS CSVs + the golden records arithmetic (the q82
    // board resolution, event-generic and unfiltered). With this the
    // whole GTFS pipeline's relational skeleton sits in the DuckDB
    // gate; only curve BYTES remain golden-pinned.
    "q42s_prediction_skeleton" -> QueryDef(
      (s, _) => {
        val (_, preds) = fixturePredictions(s)
        preds
          .select(col("route_id"), col("trip_id"), col("trip_start_date"),
            col("stop_sequence"), col("event_type"), col("precision_type"),
            col("sample_size"))
          .orderBy("trip_start_date", "trip_id", "stop_sequence",
            "event_type")
      },
      Some(predictionSkeletonSql)),

    // §3.3 scheduled-prediction REQUEST generation over a horizon that
    // crosses a weekend AND the 2024-03-18 calendar exception (wk removed,
    // we added) — hash-checks serviceDays (weekday bits, date ranges,
    // calendar_dates add/remove), the single trip_start_time identity
    // (first stop's departure), dense stop_index/stop_count, and >24h
    // event instants against a DuckDB reimplementation over the GTFS CSVs.
    "q55_gtfs_requests" -> QueryDef(
      (s, _) => {
        graft.predict.ScheduledPredictions.requests(s, fixtureSchedule(s),
            java.time.LocalDate.of(2024, 3, 15), days = 4)
          .select(col("route_id"), col("trip_id"), col("trip_start_date"),
            col("trip_start_time"), col("stop_sequence"), col("stop_id"),
            col("stop_index"), col("stop_count"), col("event_type"),
            col("event_instant"))
          .orderBy("trip_start_date", "trip_id", "stop_sequence", "event_type")
      },
      Some(s"""WITH days AS (SELECT unnest([DATE '2024-03-15', DATE '2024-03-16',
             |    DATE '2024-03-17', DATE '2024-03-18']) AS d),
             |cal AS (SELECT * FROM read_csv_auto('$fixtureDir/gtfs_tiny/calendar.txt', header=true)),
             |cd AS (SELECT * FROM read_csv_auto('$fixtureDir/gtfs_tiny/calendar_dates.txt', header=true)),
             |svc AS (
             |  SELECT d, service_id FROM days, cal
             |  WHERE CASE isodow(d) WHEN 1 THEN monday WHEN 2 THEN tuesday
             |      WHEN 3 THEN wednesday WHEN 4 THEN thursday WHEN 5 THEN friday
             |      WHEN 6 THEN saturday ELSE sunday END = 1
             |    AND start_date <= CAST(strftime(d, '%Y%m%d') AS INT)
             |    AND end_date >= CAST(strftime(d, '%Y%m%d') AS INT)
             |  UNION
             |  SELECT d, service_id FROM days JOIN cd
             |    ON cd.date = CAST(strftime(d, '%Y%m%d') AS INT) AND cd.exception_type = 1),
             |active AS (SELECT * FROM svc s WHERE NOT EXISTS (
             |  SELECT 1 FROM cd WHERE cd.service_id = s.service_id
             |    AND cd.date = CAST(strftime(s.d, '%Y%m%d') AS INT) AND cd.exception_type = 2)),
             |st AS (SELECT trip_id, CAST(stop_sequence AS INT) AS stop_sequence, stop_id,
             |    ROW_NUMBER() OVER (PARTITION BY trip_id ORDER BY CAST(stop_sequence AS INT)) - 1 AS stop_index,
             |    CAST(COUNT(*) OVER (PARTITION BY trip_id) AS INT) AS stop_count,
             |    CAST(split_part(arrival_time,':',1) AS INT)*3600 + CAST(split_part(arrival_time,':',2) AS INT)*60
             |      + CAST(split_part(arrival_time,':',3) AS INT) AS arr_secs,
             |    CAST(split_part(departure_time,':',1) AS INT)*3600 + CAST(split_part(departure_time,':',2) AS INT)*60
             |      + CAST(split_part(departure_time,':',3) AS INT) AS dep_secs
             |  FROM read_csv_auto('$fixtureDir/gtfs_tiny/stop_times.txt', header=true)),
             |runs AS (
             |  SELECT t.route_id, t.trip_id, a.d AS trip_start_date, st.*
             |  FROM active a
             |  JOIN read_csv_auto('$fixtureDir/gtfs_tiny/trips.txt', header=true) t
             |    ON t.service_id = a.service_id
             |  JOIN st ON st.trip_id = t.trip_id),
             |named AS (SELECT *, first_value(dep_secs) OVER
             |    (PARTITION BY trip_id, trip_start_date ORDER BY stop_index) AS trip_start_time
             |  FROM runs)
             |SELECT route_id, trip_id, trip_start_date, trip_start_time, stop_sequence,
             |  stop_id, stop_index, stop_count, event_type,
             |  CAST(trip_start_date AS TIMESTAMP) + INTERVAL (secs) SECOND AS event_instant
             |FROM named, LATERAL (SELECT unnest([1, 2]) AS event_type,
             |  unnest([arr_secs, dep_secs]) AS secs) e
             |ORDER BY trip_start_date, trip_id, stop_sequence, event_type""".stripMargin)),

    // monitor data layer over the same pipeline: departure board
    // (F5/F6/F7/J6/W4) under the driver smoke harness
    "q50_departure_board" -> QueryDef(
      (s, _) => {
        val (schedule, preds) = fixturePredictions(s)
        graft.monitor.Monitor.departureBoard(preds,
          schedule.trips, schedule.routes, schedule.stopTimes,
          stopIds = Seq("s1", "s2", "s3"),
          minTime = java.sql.Timestamp.valueOf("2024-03-15 00:00:00"),
          maxTime = java.sql.Timestamp.valueOf("2024-03-17 00:00:00"))
          .filter(col("event_type") === graft.model.EventType.Departure)
          .select(col("trip_id"), col("stop_id"), col("stop_sequence"),
            col("route_short_name"), col("precision_type"),
            round(col("median_delay"), 3).as("median_delay"))
      },
      None),

    // q50's INTEGER-FACT surrogate (r7, mirroring what q53/q55 do for the
    // analysis pipeline): the same departureBoard operator run end to end,
    // projecting only SQL-derivable facts — row keys, J6 metadata, the
    // precision/origin codes, sample sizes, and the prediction window as
    // curve-SUPPORT integers (prediction_min/max = event instant shifted
    // by the curve's end points, which for every ladder rung are min/max
    // functions of the underlying delay multiset: makeCurve emits points
    // at the sorted distinct values — skipping a LEADING 0.0, see
    // Curve.makeCurve — simplify/average/capPoints all preserve end
    // points). The DuckDB twin re-derives the ENTIRE resolution in SQL:
    // gap-filled general-curve availability (>=20 samples at the Default
    // slot, >=2 emitted points) keyed by the structural route variant
    // (expressed as the ordered stop list), the default-grid cascade
    // (leaf >=10 gate -> General cell -> per-route-type pool ->
    // SuperGeneral global, integer-div sample averaging per
    // CurveData::average), the F5 window predicate, the F7 last-stop
    // drop, and the F6 origin constant — verifying the board's relational
    // skeleton (reference `src/monitor/mod.rs:426-591` +
    // `src/predictor/mod.rs:178-335`) against an independent engine,
    // leaving only curve BYTES to the golden pins (GtfsGoldenPinSpec).
    "q82_board_skeleton" -> QueryDef(
      (s, _) => {
        val (schedule, preds) = fixturePredictions(s)
        graft.monitor.Monitor.departureBoard(preds,
          schedule.trips, schedule.routes, schedule.stopTimes,
          stopIds = Seq("s1", "s2", "s3"),
          minTime = java.sql.Timestamp.valueOf("2024-03-15 00:00:00"),
          maxTime = java.sql.Timestamp.valueOf("2024-03-17 00:00:00"))
          .filter(col("event_type") === graft.model.EventType.Departure)
          .select(col("trip_id"), col("trip_start_date"), col("stop_id"),
            col("stop_sequence"), col("route_short_name"), col("trip_headsign"),
            col("route_type"), col("precision_type"), col("sample_size"),
            col("origin_type"), col("event_instant"),
            col("prediction_min"), col("prediction_max"))
          .orderBy("trip_start_date", "trip_id", "stop_sequence")
      },
      Some(boardSkeletonSql)),

    // q51's INTEGER-FACT surrogate (r7): the same transfersBanded operator
    // with the probability column DROPPED — with minProbability = 0.0 the
    // F8 floor keeps every scored pair, so the output row set is exactly
    // the relational skeleton (stop-pair equi-join through the walkable
    // graph + time band + trip inequality, reference
    // `src/monitor/mod.rs:855-884`), independently re-derived in DuckDB
    // from the GTFS CSVs. Curve math stays with the golden pins.
    "q83_transfer_skeleton" -> QueryDef(
      (s, _) => {
        import s.implicits._
        val (_, preds) = fixturePredictions(s)
        val arrivals = preds
          .filter(col("event_type") === graft.model.EventType.Arrival)
        val departures = preds
          .filter(col("event_type") === graft.model.EventType.Departure)
        val stopPairs = Seq(("s2", "s3", 120.0))
          .toDF("arrival_stop", "departure_stop", "walk_meters")
        graft.monitor.Monitor.transfersBanded(arrivals, departures, stopPairs,
            horizonSecs = 3 * 86400, slackSecs = 3 * 86400,
            minProbability = 0.0)
          .select(col("arrival_trip"), col("arrival_stop"),
            col("departure_trip"), col("departure_stop"))
          .orderBy("arrival_trip", "departure_trip")
      },
      Some(transferSkeletonSql)),

    // monitor transfer scoring (C9/C10/C11 + F8) over real pipeline
    // curves, through the KEYED fleet-scale shape (stop-pair equi-join +
    // time band, no cartesian product); the band spans the whole 2-day
    // fixture so the output equals the single-board cross join
    // (MonitorSpec pins banded == cartesian)
    "q51_transfer_scores" -> QueryDef(
      (s, _) => {
        import s.implicits._
        val (_, preds) = fixturePredictions(s)
        val arrivals = preds
          .filter(col("event_type") === graft.model.EventType.Arrival)
        val departures = preds
          .filter(col("event_type") === graft.model.EventType.Departure)
        val stopPairs = Seq(("s2", "s3", 120.0))
          .toDF("arrival_stop", "departure_stop", "walk_meters")
        graft.monitor.Monitor.transfersBanded(arrivals, departures, stopPairs,
            horizonSecs = 3 * 86400, slackSecs = 3 * 86400,
            minProbability = 0.0)
          .withColumn("transfer_probability",
            round(col("transfer_probability"), 4))
          .orderBy("arrival_trip", "departure_trip", "transfer_probability")
      },
      None))

  /** Stages of the fixture pipeline (records → projections → predictions),
    * each built ONCE per JVM and checkpointed through the FILESYSTEM —
    * every registry query above then runs as a flat parquet scan. This is
    * the reference's own serving pattern (analyse once to disk, serve the
    * monitor many times — `src/main.rs:321-393` FileCache) and it is
    * robust where an in-session `.persist()` memo is not: the monitor
    * plans reference the prediction relation several times, and any cache
    * miss/eviction under the driver harness re-ran the entire
    * records→curves→ladder pipeline per reference (BENCH_r02: 57 s for an
    * 11-row board). A per-JVM temp dir (not a repo path) keeps the driver's
    * fresh-JVM verify/bench runs always building from current code. */
  private val stagePaths = scala.collection.mutable.Map.empty[String, String]

  // reentrant lock: a stage's build may itself request earlier stages
  // (projected -> records), which re-enters cleanly
  private def checkpointed(s: SparkSession, stage: String)
                          (build: => DataFrame): DataFrame = {
    val path = synchronized {
      stagePaths.getOrElseUpdate(stage, {
        val dir = java.nio.file.Files.createTempDirectory(s"graft-fixture-$stage")
          .resolve(s"$stage.parquet").toString
        build.write.mode("overwrite").parquet(dir)
        dir
      })
    }
    s.read.parquet(path)
  }

  private def fixtureSchedule(s: SparkSession): GtfsStatic.Schedule =
    GtfsStatic.read(s, s"$fixtureDir/gtfs_tiny")

  /** (route_id, route_variant, vkey): the xxhash64 variant key joined to
    * its injective STRUCTURAL preimage (route_id | ordered stop list) —
    * the bridge that lets integer-fact skeletons keyed by variant be
    * hash-compared in DuckDB (which cannot reproduce xxhash64). */
  private def variantKeys(s: SparkSession): DataFrame = {
    val schedule = fixtureSchedule(s)
    val stops = schedule.stopTimes
      .select(col("trip_id"),
        struct(col("stop_sequence").cast("int").as("seq"),
          col("stop_id").as("sid")).as("s"))
      .groupBy("trip_id")
      .agg(array_sort(collect_list(col("s"))).as("ss"))
      .select(col("trip_id"),
        concat_ws(",", transform(col("ss"), _.getField("sid"))).as("stops"))
    GtfsStatic.routeVariants(schedule.trips, schedule.stopTimes)
      .join(stops, Seq("trip_id"))
      .join(schedule.trips.select(col("trip_id"), col("route_id")), Seq("trip_id"))
      .select(col("route_id"), col("route_variant"),
        concat(col("route_id"), lit("|"), col("stops")).as("vkey"))
      .distinct()
  }

  private def fixtureRecords(s: SparkSession): DataFrame =
    checkpointed(s, "records")(records(s))

  /** Spec access (GtfsGoldenPinSpec pins curve bytes). */
  private[operators] def fixtureProjectedForSpec(s: SparkSession): DataFrame =
    fixtureProjected(s)

  /** Spec access (GtfsGoldenPinSpec pins prediction curve bytes). */
  private[operators] def fixturePredictionsForSpec(s: SparkSession)
  : (GtfsStatic.Schedule, DataFrame) = fixturePredictions(s)

  private def fixtureProjected(s: SparkSession): DataFrame =
    checkpointed(s, "projected") {
      DelayAnalysis.projectedRecords(fixtureRecords(s), fixtureSchedule(s))
    }

  private def fixturePredictions(s: SparkSession)
  : (GtfsStatic.Schedule, DataFrame) = {
    val schedule = fixtureSchedule(s)
    val preds = checkpointed(s, "predictions") {
      val recs = fixtureRecords(s)       // flat scan: decode ran once
      val projected = fixtureProjected(s) // flat scan: gap-fill ran once
      val stats = graft.analyse.StatisticsIO.Statistics(
        DelayAnalysis.generalDelayCurves(projected),
        DelayAnalysis.stopPairCurveSets(projected),
        DelayAnalysis.defaultCurves(recs, schedule, schedule.routes))
      graft.predict.ScheduledPredictions.generate(s, schedule, stats,
        java.time.LocalDate.of(2024, 3, 15), days = 2)
    }
    (schedule, preds)
  }
}
