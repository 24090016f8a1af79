package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.model.{RouteSection, TimeSlot}
import QueryDef.OrderedResultOps

/** One verifiable operator: a DataFrame build plus (when SQL-expressible)
  * an ANSI-SQL oracle DuckDB runs on the same parquet tables. */
final case class QueryDef(build: (SparkSession, String) => DataFrame,
                          oracle: Option[String])

object QueryDef {
  /** Deterministic total orders for registry outputs. Two shapes, picked
    * by OUTPUT size:
    *
    *  - [[orderedResult]] — one shuffle to a single partition + local
    *    sort. Only for outputs bounded enough to sort on one core
    *    (top-k, per-group summaries, thresholded pair sets). Exists
    *    because `orderBy` over an UN-SHUFFLED expensive child samples
    *    that child twice (measured: q29's broadcast-join tail ran 16.3 s
    *    ordered vs 8.3 s unordered — the sampling pass re-ran the join).
    *  - [[orderedOutput]] — a plain parallel range sort. For CORPUS-SIZED
    *    outputs (per-document relations) that must never funnel through
    *    one task at 100 TB. When the child's tail is a shuffle stage —
    *    every groupBy/join output — AQE has already materialized it, so
    *    the range partitioner's sampling pass re-reads shuffle files
    *    rather than re-executing the pipeline (measured on q16/q57/q61/
    *    q63/q67: orderBy beat both repartition(1) and an explicit
    *    checkpoint-then-sort). A named alias so the size policy is
    *    visible at every call site. */
  implicit class OrderedResultOps(private val df: DataFrame) extends AnyVal {
    def orderedResult(cols: Column*): DataFrame =
      df.repartition(1).sortWithinPartitions(cols: _*)
    def orderedOutput(cols: Column*): DataFrame = df.orderBy(cols: _*)
  }

  /** THE best-match rollup of the similarity/decon family (q133/q135/
    * q137 and AnnStream.deconProbe): per `keyCol`, the match count and
    * the best match by (highest `scoreCol`, ties to the SMALLEST
    * `matchCol` id — `max(struct(score, -id))`, exactly the MIN(id)-at-
    * MAX(score) the oracles compute). One definition so a tie-break
    * change reaches every consumer. Map-side combinable; ordered per-key output. */
  private[graft] def bestMatchRollup(matches: DataFrame, keyCol: String,
                                     matchCol: String, scoreCol: String,
                                     nName: String, bestName: String,
                                     scoreName: String): DataFrame =
    matches
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as(nName),
        max(struct(col(scoreCol).as("s"), (-col(matchCol)).as("negid"))).as("m"))
      .select(col(keyCol), col(nName),
        (-col("m.negid")).as(bestName), col("m.s").as(scoreName))
      .orderedOutput(col(keyCol))
}

/** Relational operator battery over the driver's synthetic tables.
  *
  * Each query maps one operator family from SURVEY.md §2 onto the
  * TPC-H-ish schema so the DuckDB oracle can verify it. Numeric outputs
  * follow strict cross-engine determinism rules:
  *   - sums of doubles go through exact DECIMAL arithmetic, then cast to
  *     double (both engines produce the identical decimal, hence the
  *     identical double);
  *   - averages are expressed as exact-decimal-sum-cast-to-double divided
  *     by a BIGINT count (one IEEE division, identical on both engines);
  *   - every output is deterministically ordered.
  */
object RelationalQueries {

  /** sum(CAST(x AS DECIMAL(18,4))) cast back to double — exact and
    * order-insensitive, unlike a double sum. */
  private def dsum(c: Column): Column =
    sum(c.cast("decimal(18,4)")).cast("double")

  /** l_extendedprice as exact integer cents — the shared value domain of
    * the exact (q75/q76) and sketch (q122) order-statistic rungs; one
    * definition so the rungs cannot drift. */
  private def priceCents: Column =
    (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")

  val registry: Map[String, QueryDef] = Map(

    // ── A1/F1/F11: filtered scan + groupBy aggregation (pricing summary) ──
    "q01_pricing_summary" -> QueryDef(
      (s, d) => {
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_base_price"),
            dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
            count(lit(1)).as("count_order"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
             |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
             |  COUNT(*) AS count_order
             |FROM lineitem
             |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ── A2: global min/max aggregation ──
    "q02_event_minmax" -> QueryDef(
      (s, d) => Tables.events(s, d)
        .agg(min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"),
          count(lit(1)).as("n")),
      Some("SELECT MIN(ts) AS min_ts, MAX(ts) AS max_ts, COUNT(*) AS n FROM events")),

    // ── W6: top-k by sort (autocomplete-style) ──
    "q03_top_customers" -> QueryDef(
      (s, d) => Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
        .limit(10),
      Some("""SELECT c_custkey, c_name, c_acctbal FROM customer
             |ORDER BY c_acctbal DESC, c_custkey LIMIT 10""".stripMargin)),

    // ── A10: distinct + count ──
    "q04_segments" -> QueryDef(
      (s, d) => Tables.customer(s, d)
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
        .orderBy(col("c_mktsegment")),
      Some("""SELECT c_mktsegment, COUNT(*) AS n FROM customer
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // ── J6/J8: multi-way join through dims (broadcast the small sides) ──
    "q05_regional_revenue" -> QueryDef(
      (s, d) => {
        val li = Tables.lineitem(s, d).select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
        val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        val c = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
        val n = Tables.nation(s, d).select(col("n_nationkey"), col("n_regionkey"))
        val r = Tables.region(s, d).select(col("r_regionkey"), col("r_name"))
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"))
          .agg(dsum(col("rev")).as("revenue"), count(lit(1)).as("n_items"))
          .orderBy(col("r_name"))
      },
      Some("""SELECT r_name,
             |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
             |  COUNT(*) AS n_items
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name ORDER BY r_name""".stripMargin)),

    // ── J1: broadcast hash join against a dimension ──
    "q06_brand_volume" -> QueryDef(
      (s, d) => {
        val li = Tables.lineitem(s, d).select(col("l_partkey"), col("l_quantity"))
        val p = Tables.part(s, d).select(col("p_partkey"), col("p_brand"))
        li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("total_qty"))
          .orderBy(col("p_brand"))
      },
      Some("""SELECT p_brand, COUNT(*) AS n,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |GROUP BY p_brand ORDER BY p_brand""".stripMargin)),

    // ── F6-style left-anti join ──
    "q07_customers_without_orders" -> QueryDef(
      (s, d) => {
        val c = Tables.customer(s, d)
        val o = Tables.orders(s, d)
          .filter(col("o_totalprice") > 100000).select(col("o_custkey"))
        c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""SELECT c_mktsegment, COUNT(*) AS n FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |                  WHERE o_custkey = c_custkey AND o_totalprice > 100000)
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // ── F7-style left-semi join ──
    "q08_priority_large_orders" -> QueryDef(
      (s, d) => {
        val o = Tables.orders(s, d)
        val big = Tables.lineitem(s, d)
          .filter(col("l_quantity") > 45).select(col("l_orderkey"))
        o.join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
          .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n FROM orders
             |WHERE EXISTS (SELECT 1 FROM lineitem
             |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // ── W2: dedup-to-latest via row_number (last-wins upsert semantics) ──
    "q09_latest_event_per_user" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("ts").desc, col("event_id").desc)
        Tables.events(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_type"), col("event_id"), col("value"))
          .orderBy(col("user_id"), col("event_type"))
      },
      Some("""SELECT user_id, event_type, event_id, value FROM (
             |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
             |    ORDER BY ts DESC, event_id DESC) AS rn FROM events) t
             |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin)),

    // ── W-family extension: gap-based sessionization — the classic
    //    clickstream operator (new session when a user is idle > 2 h),
    //    lag → flag → running-sum session id → per-session rollup. Both
    //    windows partition by user_id (group size bounded by one user's
    //    events — the J3/W1 scale argument); gap arithmetic in integer
    //    MICROSECONDS on both engines, no timestamp-diff float ──
    "q91_sessionize" -> QueryDef(
      (s, d) => {
        val order = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val run = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, d)
          .withColumn("us", unix_micros(col("ts")))
          .withColumn("ns", when(lag(col("us"), 1).over(order).isNull ||
            col("us") - lag(col("us"), 1).over(order) > 7200L * 1000000L, 1L)
            .otherwise(0L))
          .withColumn("session_id", sum(col("ns")).over(run))
          .groupBy(col("user_id"), col("session_id"))
          .agg(count(lit(1)).as("n_events"),
            min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"),
            // integer div, not `/`: Column./ is DOUBLE division, whose
            // truncation can cross an integer for huge spans
            expr("(max(us) - min(us)) div 1000000").as("duration_s"))
          .orderedOutput(col("user_id"), col("session_id"))
      },
      Some("""WITH e AS (SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events),
             |l AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
             |        OR us - lag(us) OVER w > CAST(7200 AS BIGINT) * 1000000
             |        THEN 1 ELSE 0 END AS ns
             |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |s AS (SELECT *, CAST(SUM(ns) OVER (PARTITION BY user_id
             |        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
             |        AS session_id FROM l)
             |SELECT user_id, session_id, COUNT(*) AS n_events,
             |  MIN(ts) AS start_ts, MAX(ts) AS end_ts,
             |  (MAX(us) - MIN(us)) // 1000000 AS duration_s
             |FROM s GROUP BY 1, 2 ORDER BY user_id, session_id""".stripMargin)),

    // ── sessionization via Spark's NATIVE session_window:
    //    q91's twin over the built-in operator. Same split semantics as
    //    q91 (TOUCHING [ts, ts+gap) windows merge — measured and
    //    spec-pinned at the exact boundary — so a new session needs
    //    gap > 2 h); the oracle is the q91 lag construction emitting
    //    the window bounds (w_end = last event + gap) ──
    "q104_session_windows" -> QueryDef(
      (s, d) => graft.streaming.SessionStream
        .sessionWindows(Tables.events(s, d))
        .orderedOutput(col("user_id"), col("w_start")),
      Some("""WITH e AS (SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events),
             |l AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
             |        OR us - lag(us) OVER w > CAST(7200 AS BIGINT) * 1000000
             |        THEN 1 ELSE 0 END AS ns
             |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |s AS (SELECT *, CAST(SUM(ns) OVER (PARTITION BY user_id
             |        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
             |        AS sid FROM l)
             |SELECT user_id, MIN(ts) AS w_start,
             |  MAX(ts) + INTERVAL 2 HOUR AS w_end,
             |  COUNT(*) AS n_events, MIN(ts) AS start_ts, MAX(ts) AS end_ts
             |FROM s GROUP BY user_id, sid
             |ORDER BY user_id, w_start""".stripMargin)),

    // ── funnel analysis: first view → first later click → first
    //    later purchase per user. Three chained filtered-min aggregates
    //    joined on user_id — NO window, no per-user sort; each stage is a
    //    map-side-combinable min. "Later" = strictly greater microsecond
    //    timestamp (integer compare on both engines) ──
    "q94_funnel" -> QueryDef(
      (s, d) => {
        val e = Tables.events(s, d).select(col("user_id"),
          col("event_type"), unix_micros(col("ts")).as("us"))
        val t1 = e.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("us")).as("t1"))
        val t2 = e.filter(col("event_type") === "click")
          .join(t1, Seq("user_id"))
          .filter(col("us") > col("t1"))
          .groupBy(col("user_id")).agg(min(col("us")).as("t2"))
        val t3 = e.filter(col("event_type") === "purchase")
          .join(t2, Seq("user_id"))
          .filter(col("us") > col("t2"))
          .groupBy(col("user_id")).agg(min(col("us")).as("t3"))
        t1.join(t2, Seq("user_id"), "left").join(t3, Seq("user_id"), "left")
          .select(col("user_id"),
            (lit(1) + col("t2").isNotNull.cast("int")
              + col("t3").isNotNull.cast("int")).as("reached"),
            col("t1"), col("t2"), col("t3"))
          .orderedOutput(col("user_id"))
      },
      Some("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
             |t1 AS (SELECT user_id, MIN(us) AS t1 FROM e
             |       WHERE event_type = 'view' GROUP BY user_id),
             |t2 AS (SELECT e.user_id, MIN(us) AS t2 FROM e JOIN t1 USING (user_id)
             |       WHERE event_type = 'click' AND us > t1 GROUP BY e.user_id),
             |t3 AS (SELECT e.user_id, MIN(us) AS t3 FROM e JOIN t2 USING (user_id)
             |       WHERE event_type = 'purchase' AND us > t2 GROUP BY e.user_id)
             |SELECT user_id,
             |  1 + CAST(t2 IS NOT NULL AS INT) + CAST(t3 IS NOT NULL AS INT)
             |    AS reached,
             |  t1, t2, t3
             |FROM t1 LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)
             |ORDER BY user_id""".stripMargin)),

    // ── A1: tumbling time-bucket aggregation ──
    "q10_hourly_counts" -> QueryDef(
      (s, d) => Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy(col("bucket"), col("event_type")),
      Some("""SELECT date_trunc('hour', ts) AS bucket, event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""".stripMargin)),

    // ── W1: forward-fill (gap-fill projection) via last(ignoreNulls) ──
    "q11_forward_fill" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, d)
          .withColumn("v", when(col("value") >= 10, col("value")))
          .withColumn("v_filled", last(col("v"), ignoreNulls = true).over(w))
          .select(col("event_id"), col("user_id"), col("v_filled"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id, user_id,
             |  LAST_VALUE(CASE WHEN value >= 10 THEN value END IGNORE NULLS)
             |    OVER (PARTITION BY user_id ORDER BY ts, event_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
             |FROM events ORDER BY event_id""".stripMargin)),

    // ── J3/J4: stop-pair-style self-join on a shared key with index theta ──
    "q12_lineitem_pairs" -> QueryDef(
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"), col("l_quantity"))
        val l1 = li.select(col("l_orderkey"), col("l_linenumber").as("ln1"),
          col("l_returnflag").as("rf_s"), col("l_quantity").as("q1"))
        val l2 = li.select(col("l_orderkey"), col("l_linenumber").as("ln2"),
          col("l_returnflag").as("rf_e"), col("l_quantity").as("q2"))
        l1.join(l2, Seq("l_orderkey"))
          .filter(col("ln1") < col("ln2"))
          .groupBy(col("rf_s"), col("rf_e"))
          .agg(count(lit(1)).as("n_pairs"), dsum(col("q2") - col("q1")).as("qty_drift"))
          .orderBy(col("rf_s"), col("rf_e"))
      },
      Some("""SELECT l1.l_returnflag AS rf_s, l2.l_returnflag AS rf_e,
             |  COUNT(*) AS n_pairs,
             |  CAST(SUM(CAST(l2.l_quantity - l1.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty_drift
             |FROM lineitem l1 JOIN lineitem l2
             |  ON l1.l_orderkey = l2.l_orderkey AND l1.l_linenumber < l2.l_linenumber
             |GROUP BY 1, 2 ORDER BY rf_s, rf_e""".stripMargin)),

    // ── J9/W3: as-of predecessor via lag ──
    "q13_event_gaps" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        Tables.events(s, d)
          .withColumn("gap_us", unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
          .groupBy(col("event_type"))
          .agg(count(col("gap_us")).as("n_gaps"), sum(col("gap_us")).as("sum_gap_us"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, COUNT(gap_us) AS n_gaps,
             |  CAST(SUM(gap_us) AS BIGINT) AS sum_gap_us FROM (
             |  SELECT event_type, epoch_us(ts) - LAG(epoch_us(ts), 1)
             |    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
             |  FROM events) t
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ── session windows from gaps (lag + cumulative flag) ──
    "q14_sessions" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        Tables.events(s, d)
          .withColumn("gap_us", unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
          .withColumn("is_new", when(col("gap_us").isNull || col("gap_us") > 1800L * 1000000L, 1L).otherwise(0L))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"), sum(col("is_new")).as("n_sessions"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, COUNT(*) AS n_events,
             |  CAST(SUM(is_new) AS BIGINT) AS n_sessions FROM (
             |  SELECT user_id, CASE WHEN epoch_us(ts) - LAG(epoch_us(ts), 1)
             |      OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
             |      OR LAG(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             |    THEN 1 ELSE 0 END AS is_new
             |  FROM events) t
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ── A9 analogue: ROLLUP over the grouping hierarchy ──
    "q15_rollup" -> QueryDef(
      (s, d) => Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
             |  COUNT(*) AS n
             |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
             |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    // ── J11: precision fallback ladder (left joins + coalesce cascade) ──
    "q16_precision_ladder" -> QueryDef(
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"), col("l_linenumber"))
        val specific = li.groupBy(col("l_partkey"), col("l_suppkey"))
          .agg((dsum(col("l_quantity")) / count(lit(1))).as("avg_spec"),
            count(lit(1)).as("n_spec"))
          .filter(col("n_spec") >= 2)
        val semi = li.groupBy(col("l_partkey"))
          .agg((dsum(col("l_quantity")) / count(lit(1))).as("avg_semi"))
        val general = li.agg((dsum(col("l_quantity")) / count(lit(1))).as("avg_gen"))
        val requests = li.filter(col("l_linenumber") === 1)
          .select(col("l_partkey"), col("l_suppkey")).distinct()
        requests
          .join(specific, Seq("l_partkey", "l_suppkey"), "left")
          .join(semi, Seq("l_partkey"), "left")
          .crossJoin(broadcast(general))
          .select(col("l_partkey"), col("l_suppkey"),
            coalesce(col("avg_spec"), col("avg_semi"), col("avg_gen")).as("predicted_qty"),
            when(col("avg_spec").isNotNull, lit(0))
              .when(col("avg_semi").isNotNull, lit(2))
              .otherwise(lit(5)).as("precision_type"))
          // requests-sized output (grows with the corpus): parallel range
          // sort, never a single-partition funnel
          .orderedOutput(col("l_partkey"), col("l_suppkey"))
      },
      Some("""WITH specific AS (
             |  SELECT l_partkey, l_suppkey,
             |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_spec
             |  FROM lineitem GROUP BY 1, 2 HAVING COUNT(*) >= 2),
             |semi_t AS (
             |  SELECT l_partkey,
             |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_semi
             |  FROM lineitem GROUP BY 1),
             |general AS (
             |  SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_gen
             |  FROM lineitem),
             |requests AS (
             |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem WHERE l_linenumber = 1)
             |SELECT r.l_partkey, r.l_suppkey,
             |  COALESCE(s.avg_spec, m.avg_semi, g.avg_gen) AS predicted_qty,
             |  CASE WHEN s.avg_spec IS NOT NULL THEN 0
             |       WHEN m.avg_semi IS NOT NULL THEN 2 ELSE 5 END AS precision_type
             |FROM requests r
             |LEFT JOIN specific s ON r.l_partkey = s.l_partkey AND r.l_suppkey = s.l_suppkey
             |LEFT JOIN semi_t m ON r.l_partkey = m.l_partkey
             |CROSS JOIN general g
             |ORDER BY r.l_partkey, r.l_suppkey""".stripMargin)),

    // ── C5: TimeSlot taxonomy as a pure CASE expression ──
    "q17_timeslots" -> QueryDef(
      (s, d) => Tables.events(s, d)
        .groupBy(TimeSlot.slotIdColumn(col("ts")).as("slot_id"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("slot_id")),
      Some(
        s"""SELECT ${TimeSlot.duckDbCaseSql("ts")} AS slot_id, COUNT(*) AS n
           |FROM events GROUP BY 1 ORDER BY slot_id""".stripMargin)),

    // ── C6: RouteSection rule over per-group positions ──
    "q18_route_sections" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy(col("l_orderkey"))
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_linenumber"))
          .withColumn("stop_count", count(lit(1)).over(w).cast("int"))
          .withColumn("section",
            RouteSection.sectionColumn(col("l_linenumber") - 1, col("stop_count")))
          .groupBy(col("section")).agg(count(lit(1)).as("n"))
          .orderBy(col("section"))
      },
      Some("""SELECT CASE
             |    WHEN l_linenumber - 1 < LEAST(5, stop_count // 3) THEN 0
             |    WHEN stop_count - (l_linenumber - 1) <= LEAST(5, stop_count // 3) THEN 2
             |    ELSE 1 END AS section, COUNT(*) AS n
             |FROM (SELECT l_orderkey, l_linenumber,
             |        CAST(COUNT(*) OVER (PARTITION BY l_orderkey) AS INT) AS stop_count
             |      FROM lineitem) t
             |GROUP BY 1 ORDER BY section""".stripMargin)),

    // ── F2/F3: threshold filter + 12 s-style bucket rounding ──
    "q19_value_histogram" -> QueryDef(
      (s, d) => Tables.events(s, d)
        .filter(col("value").between(-3000, 3000))
        .groupBy((floor(col("value") / 12) * 12).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("bucket")),
      Some("""SELECT CAST(FLOOR(value / 12) * 12 AS BIGINT) AS bucket, COUNT(*) AS n
             |FROM events WHERE value BETWEEN -3000 AND 3000
             |GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // ── C12/J7: haversine geo-radius filter on synthesized coordinates ──
    "q20_geo_radius" -> QueryDef(
      (s, d) => {
        val c = Tables.customer(s, d)
          .withColumn("lat", ((col("c_custkey") * 7) % 120 - 60).cast("double") + lit(0.25))
          .withColumn("lon", ((col("c_custkey") * 13) % 300 - 150).cast("double") + lit(0.5))
        val dist = graft.functions.Geo.haversineMeters(
          col("lat"), col("lon"), lit(10.0), lit(20.0))
        c.filter(dist < 3000000.0)
          .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n"))
          .orderBy(col("c_nationkey"))
      },
      Some("""SELECT c_nationkey, COUNT(*) AS n FROM (
             |  SELECT c_nationkey,
             |    2 * 6371000.0 * ASIN(SQRT(
             |      POW(SIN(RADIANS(10.0 - lat) / 2), 2) +
             |      COS(RADIANS(lat)) * COS(RADIANS(10.0)) *
             |      POW(SIN(RADIANS(20.0 - lon) / 2), 2))) AS dist
             |  FROM (SELECT c_nationkey,
             |          CAST((c_custkey * 7) % 120 - 60 AS DOUBLE) + 0.25 AS lat,
             |          CAST((c_custkey * 13) % 300 - 150 AS DOUBLE) + 0.5 AS lon
             |        FROM customer) t0) t
             |WHERE dist < 3000000.0
             |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)),

    // ── C7/C15: exact interpolated quantiles (curve x_at_y analogues) ──
    "q21_quantiles" -> QueryDef(
      (s, d) => Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          expr("percentile(value, 0.1)").as("p10"),
          expr("percentile(value, 0.5)").as("p50"),
          expr("percentile(value, 0.9)").as("p90"),
          expr("percentile(value, 0.99)").as("p99"))
        .orderBy(col("event_type")),
      Some("""SELECT event_type,
             |  quantile_cont(value, 0.1) AS p10,
             |  quantile_cont(value, 0.5) AS p50,
             |  quantile_cont(value, 0.9) AS p90,
             |  quantile_cont(value, 0.99) AS p99
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ── §2.6 set ops: union / intersect / except over key sets ──
    "q43_set_ops" -> QueryDef(
      (s, d) => {
        val bigOrders = Tables.orders(s, d)
          .filter(col("o_totalprice") > 150000).select(col("o_custkey").as("k"))
        val urgent = Tables.orders(s, d)
          .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey").as("k"))
        val union = bigOrders.union(urgent).distinct()
          .select(lit("union").as("op"), col("k"))
        val inter = bigOrders.intersect(urgent)
          .select(lit("intersect").as("op"), col("k"))
        val except = bigOrders.except(urgent)
          .select(lit("except").as("op"), col("k"))
        union.unionByName(inter).unionByName(except)
          .groupBy("op").agg(count(lit(1)).as("n"))
          .orderBy("op")
      },
      Some("""WITH big AS (SELECT o_custkey AS k FROM orders WHERE o_totalprice > 150000),
             |urgent AS (SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'),
             |u AS (SELECT 'union' AS op, k FROM (SELECT DISTINCT k FROM (SELECT k FROM big UNION SELECT k FROM urgent))),
             |i AS (SELECT 'intersect' AS op, k FROM (SELECT k FROM big INTERSECT SELECT k FROM urgent)),
             |e AS (SELECT 'except' AS op, k FROM (SELECT k FROM big EXCEPT SELECT k FROM urgent))
             |SELECT op, COUNT(*) AS n FROM (SELECT * FROM u UNION ALL SELECT * FROM i UNION ALL SELECT * FROM e)
             |GROUP BY op ORDER BY op""".stripMargin)),

    // ── CUBE over two dimensions (grouping-sets family, beyond q15 ROLLUP) ──
    "q45_cube" -> QueryDef(
      (s, d) => Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first),
      Some("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
             |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
             |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)),

    // ── sliding-frame moving average (rows between 2 preceding and current) ──
    "q46_moving_avg" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(-2, Window.currentRow)
        Tables.events(s, d)
          .select(col("event_id"), col("user_id"),
            (sum(col("value").cast("decimal(18,4)")).over(w).cast("double") /
              count(lit(1)).over(w)).as("mov_avg"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id, user_id,
             |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE)
             |    / COUNT(*) OVER w AS mov_avg
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
             |ORDER BY event_id""".stripMargin)),

    // ── HLL approximate distinct — the at-scale cardinality operator.
    //    Sketch values are engine-specific -> rows-only for the driver;
    //    ApproxDistinctSpec bounds the error against the exact count. ──
    "q47_approx_distinct" -> QueryDef(
      (s, d) => Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag")),
      None),

    // ── KMV (k-minimum-values) distinct sketch over a PORTABLE hash —
    //    the oracle-checkable counterpart of q47's HLL (whose Spark
    //    sketch internals DuckDB cannot reproduce). A typed Aggregator
    //    ([[graft.functions.KmvSketch]]) keeps the k smallest DISTINCT
    //    multiplicative-hash values per group: bounded state, map-side
    //    partial aggregation (no shuffle of distinct keys, no per-group
    //    window), deterministic by set semantics. Estimate
    //    D ≈ (k−1)·M/h₍k₎ (Bar-Yossef et al. 2002) — hash, ranks and
    //    the one division are bit-identical in DuckDB. ──
    "q74_kmv_distinct" -> QueryDef(
      (s, d) => {
        val k = 64
        val hv = ((col("l_orderkey") % lit(1000000007L)) * lit(2654435761L)) %
          lit(1000000007L)
        val kmv = udaf(new graft.functions.KmvSketch(k),
          org.apache.spark.sql.Encoders.scalaLong)
        Tables.lineitem(s, d)
          .select(col("l_returnflag"), hv.as("hv"))
          .groupBy(col("l_returnflag"))
          .agg(kmv(col("hv")).as("sk"))
          .select(col("l_returnflag"),
            when(col("sk._1") < k, col("sk._1").cast("double"))
              .otherwise(round(lit((k - 1).toDouble) * 1000000007.0 / col("sk._2"), 3))
              .as("est_distinct"))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH h AS (SELECT DISTINCT l_returnflag,
             |    ((l_orderkey % 1000000007) * 2654435761) % 1000000007 AS hv
             |  FROM lineitem),
             |r AS (SELECT l_returnflag, hv,
             |    ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY hv) AS rk
             |  FROM h),
             |s AS (SELECT l_returnflag, COUNT(*) AS n_kept, MAX(hv) AS kth
             |      FROM r WHERE rk <= 64 GROUP BY 1)
             |SELECT l_returnflag,
             |  CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
             |       ELSE ROUND(63.0 * 1000000007.0 / kth, 3) END AS est_distinct
             |FROM s ORDER BY l_returnflag""".stripMargin)),

    // ── EXACT per-group median without sorting: iterative range-
    //    refinement selection ([[Selection.kthSmallest]] — ≤4 aggregate
    //    passes for a money domain, no global sort, no per-group window,
    //    dimension-sized driver state). Values go through exact DECIMAL
    //    cents so both engines select over identical longs; the oracle
    //    re-derives the same k-th element by brute-force ranking. ──
    "q75_exact_median" -> QueryDef(
      (s, d) => {
        val cents = priceCents
        Selection.median(
          Tables.lineitem(s, d).select(col("l_returnflag"), cents.as("median_cents")),
          "l_returnflag", "median_cents")
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH c AS (SELECT l_returnflag,
             |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
             |  FROM lineitem),
             |r AS (SELECT l_returnflag, cents,
             |    ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY cents) AS rk,
             |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n FROM c)
             |SELECT l_returnflag, cents AS median_cents
             |FROM r WHERE rk = (n + 1) // 2 ORDER BY l_returnflag""".stripMargin)),

    // ── per-group top-k WITHOUT a rank window: bounded-buffer typed
    //    Aggregator ([[graft.functions.TopK]]) — map-side combinable, so
    //    a giant group never funnels through one task the way
    //    `row_number over (partition by …)` does; the final merge sees
    //    k·partitions rows. Multiset/tie semantics match row_number
    //    exactly (value DESC, id ASC); DECIMAL cents keep both engines
    //    ranking identical longs. ──
    "q76_group_topk" -> QueryDef(
      (s, d) => {
        val cents = priceCents
        val topk = graft.functions.TopK.longPairUdaf(3)
        Tables.lineitem(s, d)
          .select(col("l_returnflag"), cents.as("cents"), col("l_orderkey"))
          .groupBy(col("l_returnflag"))
          .agg(topk(col("cents"), col("l_orderkey")).as("top"))
          .select(col("l_returnflag"), posexplode(col("top")).as(Seq("p", "e")))
          .select(col("l_returnflag"), (col("p") + 1).cast("long").as("rank"),
            col("e._2").as("l_orderkey"), col("e._1").as("cents"))
          .orderBy(col("l_returnflag"), col("rank"))
      },
      Some("""WITH c AS (SELECT l_returnflag,
             |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             |    l_orderkey FROM lineitem),
             |r AS (SELECT l_returnflag, cents, l_orderkey,
             |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
             |      ORDER BY cents DESC, l_orderkey) AS rk FROM c)
             |SELECT l_returnflag, rk AS rank, l_orderkey, cents
             |FROM r WHERE rk <= 3 ORDER BY l_returnflag, rank""".stripMargin)),

    // ── per-user OLS trend (value over time): ONE map-side-combinable
    //    aggregate per user collecting (n, Σx, Σy, Σxy, Σxx) as exact
    //    integers — x = floored epoch seconds centered at 2024-01-01
    //    (shrinks magnitudes so every decimal product stays well under
    //    precision 38 even at 10⁹ rows per user; slope is
    //    shift-invariant), y = value milli-units via exact DECIMAL.
    //    Slope = (nΣxy − ΣxΣy)/(nΣxx − Σx²) as a ratio of exact integer
    //    polynomials — Spark holds them in sized DECIMALs, DuckDB in
    //    HUGEINT — each side cast to double once and divided once, so
    //    both engines perform the IDENTICAL IEEE operations; the
    //    intercept (value at the centering epoch) reuses the slope
    //    double through the same fixed float chain on both engines. No
    //    window, no sort, no second pass: regression-by-sums is the
    //    100 TB shape (the residual formulation needs the mean first —
    //    two passes). ──
    "q114_user_trend" -> QueryDef(
      (s, d) => {
        // floor-to-second on both engines: unix_timestamp truncates,
        // the oracle uses epoch_us // 1000000
        val x = (unix_timestamp(col("ts")) - lit(1704067200L)).cast("decimal(10,0)")
        val y = (col("value").cast("decimal(18,3)") * 1000).cast("decimal(10,0)")
        // Precision contract (sized so every decimal product stays ≤ 38
        // digits): ≤ 10⁹ rows per user, |x| ≤ 3.2·10⁸ s (±10 years from
        // the centering epoch), |y| ≤ 10⁷ milli (|value| ≤ 10⁴) ⇒
        // |sx| ≤ 3.2e17 (18), |sy| ≤ 1e16 (17), |sxy| ≤ 3.2e24 (25),
        // |sxx| ≤ 1.1e26 (27); n·sxx ≤ 10+27+1 = 38, sx² ≤ 37,
        // n·sxy ≤ 36, sx·sy ≤ 36. Out-of-contract corpora fail FAST
        // under Spark's default ANSI mode (cast throws) instead of
        // silently dropping users vs the HUGEINT oracle.
        val agg = Tables.events(s, d)
          .filter(col("value").isNotNull)
          .select(col("user_id"), x.as("x"), y.as("y"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).cast("decimal(10,0)").as("n"),
            sum(col("x")).cast("decimal(18,0)").as("sx"),
            sum(col("y")).cast("decimal(17,0)").as("sy"),
            sum(col("x") * col("y")).cast("decimal(25,0)").as("sxy"),
            sum(col("x") * col("x")).cast("decimal(27,0)").as("sxx"))
        val slope = col("numS").cast("double") / col("den").cast("double")
        agg.select(col("user_id"), col("n"), col("sx"), col("sy"),
            (col("n") * col("sxx") - col("sx") * col("sx")).as("den"),
            (col("n") * col("sxy") - col("sx") * col("sy")).as("numS"))
          .filter(col("n") >= 2 && col("den") =!= 0)
          .select(col("user_id"), col("n").cast("long").as("n_events"),
            slope.as("slope_milli_per_sec"),
            ((col("sy").cast("double") - slope * col("sx").cast("double"))
              / col("n").cast("double")).as("intercept_milli"))
          .orderBy(col("user_id"))
      },
      Some("""WITH p AS (SELECT user_id,
             |    epoch_us(ts) // 1000000 - 1704067200 AS x,
             |    CAST(CAST(value AS DECIMAL(18,3)) * 1000 AS BIGINT) AS y
             |  FROM events WHERE value IS NOT NULL),
             |a AS (SELECT user_id, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             |    SUM(x * y) AS sxy, SUM(x * x) AS sxx
             |  FROM p GROUP BY user_id),
             |s AS (SELECT user_id, n, sx, sy,
             |    CAST(n * sxy - sx * sy AS DOUBLE)
             |      / CAST(n * sxx - sx * sx AS DOUBLE) AS slope
             |  FROM a WHERE n >= 2 AND n * sxx - sx * sx <> 0)
             |SELECT user_id, CAST(n AS BIGINT) AS n_events,
             |  slope AS slope_milli_per_sec,
             |  (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
             |    / CAST(n AS DOUBLE) AS intercept_milli
             |FROM s ORDER BY user_id""".stripMargin)),

    // ── hourly ingest-anomaly detection: per event_type, flag hours
    //    whose count deviates ≥ 3σ from the trailing 24-hour window
    //    (current hour excluded). The hour axis is DENSIFIED per type
    //    (sequence over [min, max] observed hour, zero-filled left
    //    join) BEFORE the window: an hour with zero events is a ROW,
    //    not a gap — so a dying feed's empty hours score z ≪ 0 instead
    //    of silently dropping out of both the baseline and the scored
    //    set, and the trailing 24 rows always span exactly 24 wall-
    //    clock hours. The window runs over the
    //    densified HOURLY AGGREGATE — still dimension-sized (the axis
    //    is types × span-hours, ~9k rows/type/year), so the per-type
    //    ordered window never touches row-scale data; z is one fixed
    //    IEEE chain over exact integer window sums, identical on both
    //    engines. The feed-health monitor for the automatic mode's
    //    ingest (a dying feed → z ≪ 0; a replay storm → z ≫ 0). ──
    "q118_hourly_anomaly" -> QueryDef(
      (s, d) => {
        val counts = Tables.events(s, d)
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
          .agg(count(lit(1)).as("c"))
        val axis = counts.groupBy(col("event_type"))
          .agg(min(col("hour")).as("mn"), max(col("hour")).as("mx"))
          .select(col("event_type"), explode(
            sequence(col("mn"), col("mx"), expr("interval 1 hour"))).as("hour"))
        val hourly = axis.join(counts, Seq("event_type", "hour"), "left")
          .select(col("event_type"), col("hour"),
            coalesce(col("c"), lit(0L)).as("c"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
          .rowsBetween(-24, -1)
        val nb = count(lit(1)).over(w)
        val sx = sum(col("c")).over(w)
        val sxx = sum(col("c") * col("c")).over(w)
        val nD = nb.cast("double")
        val mean = sx.cast("double") / nD
        val variance = (sxx.cast("double") -
          sx.cast("double") * sx.cast("double") / nD) / nD
        val z = (col("c").cast("double") - mean) / sqrt(variance)
        hourly
          .select(col("event_type"), col("hour"), col("c"),
            nb.as("n_base"), variance.as("__var"), z.as("z"))
          // the variance>0 gate (not an inf/NaN filter) keeps the
          // constant-baseline degenerate case out identically on both
          // engines — float division by zero semantics never reached
          .filter(col("n_base") === 24 && col("__var") > 0 &&
            abs(col("z")) >= 3)
          .drop("__var")
          .orderBy(col("event_type"), col("hour"))
      },
      Some("""WITH h0 AS (SELECT event_type, date_trunc('hour', ts) AS hour,
             |    COUNT(*) AS c FROM events GROUP BY 1, 2),
             |span AS (SELECT event_type, MIN(hour) AS mn, MAX(hour) AS mx
             |  FROM h0 GROUP BY 1),
             |axis AS (SELECT event_type,
             |    unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hour
             |  FROM span),
             |h AS (SELECT a.event_type, a.hour, COALESCE(h0.c, 0) AS c
             |  FROM axis a LEFT JOIN h0 USING (event_type, hour)),
             |w AS (SELECT event_type, hour, c,
             |    COUNT(*) OVER tw AS n_base,
             |    SUM(c) OVER tw AS sx, SUM(c * c) OVER tw AS sxx
             |  FROM h WINDOW tw AS (PARTITION BY event_type ORDER BY hour
             |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
             |v AS (SELECT event_type, hour, c, n_base,
             |    (CAST(sxx AS DOUBLE)
             |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n_base AS DOUBLE))
             |      / CAST(n_base AS DOUBLE) AS var,
             |    CAST(c AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n_base AS DOUBLE) AS dev
             |  FROM w WHERE n_base = 24)
             |SELECT event_type, hour, c, CAST(n_base AS BIGINT) AS n_base,
             |  dev / SQRT(var) AS z
             |FROM v WHERE var > 0 AND ABS(dev / SQRT(var)) >= 3
             |ORDER BY event_type, hour""".stripMargin)),

    // ── weekly retention cohorts: users grouped by first-activity week,
    //    active-user counts per (cohort, week offset). Two user-keyed
    //    aggregates + one distinct — no window anywhere; the matrix is
    //    dimension-sized (weeks²). The product-analytics staple, and the
    //    rider-retention question for the transit domain. ──
    "q120_retention_cohorts" -> QueryDef(
      (s, d) => {
        val wk = date_trunc("week", col("ts"))
        val ev = Tables.events(s, d).select(col("user_id"), wk.as("aw"))
        val first = ev.groupBy(col("user_id")).agg(min(col("aw")).as("cw"))
        ev.join(first, Seq("user_id"))
          .select(col("cw").as("cohort_week"),
            expr("datediff(aw, cw) div 7").cast("long").as("week_offset"),
            col("user_id"))
          .distinct()
          .groupBy(col("cohort_week"), col("week_offset"))
          .agg(count(lit(1)).as("n_active_users"))
          .orderedResult(col("cohort_week"), col("week_offset"))
      },
      Some("""WITH w AS (SELECT user_id, date_trunc('week', ts) AS aw FROM events),
             |f AS (SELECT user_id, MIN(aw) AS cw FROM w GROUP BY 1),
             |a AS (SELECT DISTINCT f.cw, date_diff('day', f.cw, w.aw) // 7 AS off,
             |        w.user_id
             |      FROM w JOIN f USING (user_id))
             |SELECT cw AS cohort_week, CAST(off AS BIGINT) AS week_offset,
             |  COUNT(*) AS n_active_users
             |FROM a GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin)),

    // ── RFM segmentation WITHOUT NTILE: recency/frequency/monetary
    //    terciles per customer. The textbook formulation is three global
    //    NTILE(3) windows — three full sorts of the customer relation
    //    through one partition each. Here the six tercile thresholds
    //    come from [[Selection.kthSmallest]] over the stacked
    //    (metric, value) relation (map-side aggregate passes, driver
    //    state = 3 groups), and bucketing is a broadcast-literal
    //    comparison — no sort, no window, one final 27-row rollup.
    //    Oracle re-derives the same thresholds by ranking (value at a
    //    rank is tie-order-invariant). ──
    "q121_rfm_segments" -> QueryDef(
      (s, d) => {
        val o = Tables.orders(s, d)
        val per = o
          .groupBy(col("o_custkey"))
          .agg(max(to_date(col("o_orderdate"))).as("last_d"),
            count(lit(1)).as("f"),
            sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
              .cast("long").as("m"))
          .crossJoin(broadcast(o.agg(max(to_date(col("o_orderdate"))).as("ref"))))
          .select(col("o_custkey"),
            datediff(col("ref"), col("last_d")).cast("long").as("r"),
            col("f"), col("m"))
        val stacked = per.select(col("o_custkey"),
          expr("stack(3, 'r', r, 'f', f, 'm', m) as (metric, v)"))
        // one persisted base feeds BOTH tercile ranks (the refinement
        // passes re-scan cache, not the stacked projection twice)
        val ths = Selection.kthSmallestRanks(stacked, "metric", "v",
            Seq(n => (n + 2) / 3, n => (2 * n + 2) / 3))
          .map(_.collect().map(row => row.getString(0) -> row.getLong(1)).toMap)
        val (t1, t2) = (ths(0), ths(1))
        if (t1.isEmpty) {
          // empty orders: no thresholds exist — empty result, same
          // schema, matching the oracle's empty cross join (the q108
          // empty-table discipline; a Map lookup would throw instead)
          import s.implicits._
          Seq.empty[(Int, Int, Int, Long)]
            .toDF("r_bucket", "f_bucket", "m_bucket", "n_customers")
        } else {
          def bucket(c: org.apache.spark.sql.Column, metric: String) =
            lit(1) + when(c > t1(metric), 1).otherwise(0) +
              when(c > t2(metric), 1).otherwise(0)
          per.select(bucket(col("r"), "r").as("r_bucket"),
              bucket(col("f"), "f").as("f_bucket"),
              bucket(col("m"), "m").as("m_bucket"))
            .groupBy(col("r_bucket"), col("f_bucket"), col("m_bucket"))
            .agg(count(lit(1)).as("n_customers"))
            .orderedResult(col("r_bucket"), col("f_bucket"), col("m_bucket"))
        }
      },
      Some("""WITH ref AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS rd FROM orders),
             |per AS (SELECT o_custkey,
             |    date_diff('day', MAX(CAST(o_orderdate AS DATE)),
             |              (SELECT rd FROM ref)) AS r,
             |    COUNT(*) AS f,
             |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
             |      AS BIGINT) AS m
             |  FROM orders GROUP BY 1),
             |mx AS (SELECT 'r' AS metric, CAST(r AS BIGINT) AS v FROM per
             |  UNION ALL SELECT 'f', f FROM per
             |  UNION ALL SELECT 'm', m FROM per),
             |rk AS (SELECT metric, v,
             |    ROW_NUMBER() OVER (PARTITION BY metric ORDER BY v) AS rk,
             |    COUNT(*) OVER (PARTITION BY metric) AS n FROM mx),
             |th AS (SELECT metric,
             |    MAX(CASE WHEN rk = (n + 2) // 3 THEN v END) AS t1,
             |    MAX(CASE WHEN rk = (2 * n + 2) // 3 THEN v END) AS t2
             |  FROM rk GROUP BY metric)
             |SELECT
             |  1 + (CASE WHEN p.r > tr.t1 THEN 1 ELSE 0 END)
             |    + (CASE WHEN p.r > tr.t2 THEN 1 ELSE 0 END) AS r_bucket,
             |  1 + (CASE WHEN p.f > tf.t1 THEN 1 ELSE 0 END)
             |    + (CASE WHEN p.f > tf.t2 THEN 1 ELSE 0 END) AS f_bucket,
             |  1 + (CASE WHEN p.m > tm.t1 THEN 1 ELSE 0 END)
             |    + (CASE WHEN p.m > tm.t2 THEN 1 ELSE 0 END) AS m_bucket,
             |  COUNT(*) AS n_customers
             |FROM per p,
             |  (SELECT t1, t2 FROM th WHERE metric = 'r') tr,
             |  (SELECT t1, t2 FROM th WHERE metric = 'f') tf,
             |  (SELECT t1, t2 FROM th WHERE metric = 'm') tm
             |GROUP BY 1, 2, 3 ORDER BY r_bucket, f_bucket, m_bucket""".stripMargin)),

    // ── MERGEABLE quantile sketch: per-group bottom-k row sample by a
    //    portable uniform hash (the bottom-k sample IS a uniform random
    //    sample of the group, so its order statistics estimate the
    //    group's quantiles) — ≤ k pairs per partial aggregate via the
    //    bounded [[graft.functions.TopK]] buffer, map-side combinable,
    //    NO per-group sort or window over the data. Completes the
    //    sketch family: KMV (q74, distinct), Misra-Gries (q77, heavy
    //    hitters), bottom-k (here, quantiles), Count-Min (q123, point
    //    counts). The exact twin is q75's radix selection; the sketch
    //    rung costs one aggregate pass regardless of domain width, and
    //    unlike q75 it is mergeable across shards/streams. Estimator
    //    fully deterministic → oracle-checked end to end;
    //    TrendProbeSpec's q122 test bounds the estimate's true CDF position. ──
    "q122_quantile_sketch" -> QueryDef(
      (s, d) => {
        val k = 128
        // portable uniform row hash: composite line key reduced mod p,
        // one affine spread — (6e12 and (p-1)·C stay far under 2⁶³)
        val hv = (((col("l_orderkey") * 1000000 + col("l_linenumber")) %
          lit(1000000007L)) * lit(2654435761L)) % lit(1000000007L)
        val cents = priceCents
        val topk = graft.functions.TopK.longPairUdaf(k)
        Tables.lineitem(s, d)
          .select(col("l_returnflag"), (-hv).as("nh"), cents.as("cents"))
          .groupBy(col("l_returnflag"))
          // TopK orders (value DESC, payload ASC): top-k by -hv ==
          // bottom-k by hv, ties broken by cents ascending — the exact
          // order the oracle's (hv, cents) ranking reproduces
          .agg(topk(col("nh"), col("cents")).as("smp"))
          .select(col("l_returnflag"),
            size(col("smp")).as("m"),
            array_sort(transform(col("smp"), x => x.getField("_2"))).as("vs"))
          .select(col("l_returnflag"), col("m").cast("long").as("n_sample"),
            element_at(col("vs"), expr("CAST((m + 1) div 2 AS INT)"))
              .as("est_median_cents"),
            element_at(col("vs"), expr("CAST((9 * m + 9) div 10 AS INT)"))
              .as("est_p90_cents"))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH h AS (SELECT l_returnflag,
             |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             |    ((l_orderkey * 1000000 + l_linenumber) % 1000000007
             |      * 2654435761) % 1000000007 AS hv
             |  FROM lineitem),
             |r AS (SELECT l_returnflag, cents,
             |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
             |      ORDER BY hv, cents) AS rk FROM h),
             |s AS (SELECT l_returnflag, cents FROM r WHERE rk <= 128),
             |o AS (SELECT l_returnflag, cents,
             |    ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY cents) AS vr,
             |    COUNT(*) OVER (PARTITION BY l_returnflag) AS m FROM s)
             |SELECT l_returnflag, MAX(m) AS n_sample,
             |  MAX(CASE WHEN vr = (m + 1) // 2 THEN cents END) AS est_median_cents,
             |  MAX(CASE WHEN vr = (9 * m + 9) // 10 THEN cents END) AS est_p90_cents
             |FROM o GROUP BY 1 ORDER BY l_returnflag""".stripMargin)),

    // ── Count-Min sketch point estimates: per event_type a 4×512 CM
    //    grid of per-user event counts (grid = ONE keyed aggregate,
    //    types × 4 × 512 rows — bounded regardless of user cardinality,
    //    mergeable by cell addition), probed for the type's top-10
    //    users: est = min over the 4 rows' cells, always ≥ the exact
    //    count. Portable affine row hashes → the whole sketch AND
    //    estimator re-derived in DuckDB. ──
    "q123_countmin" -> QueryDef(
      (s, d) => {
        val p = 1000000007L
        def cell(r: Int): Column =
          ((col("user_id") % p) * lit(2654435761L + 2 * r) + lit(40503L * r + 7)) %
            lit(p) % 512
        val ev = Tables.events(s, d).select(col("event_type"), col("user_id"))
        val grid = ev
          .select(col("event_type"), explode(array((0 until 4).map(r =>
            struct(lit(r).as("r"), cell(r).as("c"))): _*)).as("rc"))
          .groupBy(col("event_type"), col("rc.r").as("r"), col("rc.c").as("c"))
          .agg(count(lit(1)).as("n"))
        val exact = ev.groupBy(col("event_type"), col("user_id"))
          .agg(count(lit(1)).as("exact_n"))
        // top-10 users per type via the bounded TopK buffer (ordered
        // (exact_n DESC, user_id ASC) — row_number semantics), not a
        // per-type rank window over the full user relation
        val topkU = graft.functions.TopK.longPairUdaf(10)
        val top = exact.groupBy(col("event_type"))
          .agg(topkU(col("exact_n"), col("user_id")).as("t"))
          .select(col("event_type"), explode(col("t")).as("e"))
          .select(col("event_type"), col("e._2").as("user_id"),
            col("e._1").as("exact_n"))
        val probes = top.select(col("event_type"), col("user_id"), col("exact_n"),
          explode(array((0 until 4).map(r =>
            struct(lit(r).as("r"), cell(r).as("c"))): _*)).as("rc"))
          .select(col("event_type"), col("user_id"), col("exact_n"),
            col("rc.r").as("r"), col("rc.c").as("c"))
        probes.join(grid, Seq("event_type", "r", "c"))
          .groupBy(col("event_type"), col("user_id"))
          .agg(max(col("exact_n")).as("exact_n"), min(col("n")).as("cm_est"))
          .orderedResult(col("event_type"), col("user_id"))
      },
      Some("""WITH ev AS (SELECT event_type, user_id FROM events),
             |cells AS (SELECT event_type, user_id, r,
             |    ((user_id % 1000000007) * (2654435761 + 2 * r)
             |      + (40503 * r + 7)) % 1000000007 % 512 AS c
             |  FROM ev, unnest([0, 1, 2, 3]) AS t(r)),
             |grid AS (SELECT event_type, r, c, COUNT(*) AS n
             |         FROM cells GROUP BY 1, 2, 3),
             |exact AS (SELECT event_type, user_id, COUNT(*) AS exact_n
             |          FROM ev GROUP BY 1, 2),
             |top AS (SELECT event_type, user_id, exact_n FROM (
             |    SELECT event_type, user_id, exact_n, ROW_NUMBER() OVER (
             |      PARTITION BY event_type ORDER BY exact_n DESC, user_id) AS rk
             |    FROM exact) WHERE rk <= 10),
             |pc AS (SELECT t.event_type, t.user_id, t.exact_n, g.n
             |  FROM top t CROSS JOIN unnest([0, 1, 2, 3]) AS x(r)
             |  JOIN grid g ON g.event_type = t.event_type AND g.r = x.r
             |    AND g.c = ((t.user_id % 1000000007) * (2654435761 + 2 * x.r)
             |      + (40503 * x.r + 7)) % 1000000007 % 512)
             |SELECT event_type, user_id, MAX(exact_n) AS exact_n,
             |  MIN(n) AS cm_est
             |FROM pc GROUP BY 1, 2 ORDER BY event_type, user_id""".stripMargin))
  )
}
