package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import QueryDef.OrderedResultOps

/** Training-data-pipeline battery #5 (round 7, sixth session): the
  * data-quality AUDIT a pipeline runs before (and after) every assembly
  * step — rule-based completeness / uniqueness / value-range profiling
  * plus cross-table referential integrity, emitted as one
  * `(table_name, check, n_bad, n_rows)` row per rule (the Deequ-style
  * constraint report, distilled to engine terms).
  *
  * Shape discipline (the whole point at 100 TB):
  *   - every SCALAR rule family over one table shares ONE scan — the
  *     range/null/pk rules ride a single aggregate as conditional sums
  *     (plus an exact count-distinct for the key rule), then unpivot via
  *     `stack`, so auditing k rules costs one pass, not k;
  *   - referential-integrity rules are key-projected left joins: the
  *     child side ships only its foreign-key column, the parent side its
  *     distinct primary keys (bounded by key cardinality, broadcastable
  *     for dimension tables — Catalyst picks that automatically), and the
  *     violation count is a conditional sum over the join — no row of
  *     either table's payload ever shuffles;
  *   - output is rule-count-sized (a dozen rows), so the single-partition
  *     ordered tail is free.
  *
  * Reference scope note: the reference engine has no audit battery; this
  * extends the engine for large-scale training-data pipelines per the
  * build brief (like CurationQueries), mirroring the import sanity checks
  * its importer performs row-by-row
  * (/root/reference/src/importer/per_schedule_importer.rs — per-record
  * field validation before insert) as set-oriented relational rules. */
object AuditQueries {

  /** stack(n, 'name1', v1, ...) unpivots the single aggregate row into
    * one `(check, n_bad)` row per rule — all rules share the scan.
    * Shared with the streaming monitor ([[graft.streaming.AuditStream]]). */
  private[graft] def stackChecks(checks: (String, Column)*): Column = {
    val args = checks.flatMap { case (n, c) => Seq(lit(n), c.cast("long")) }
    stack(Seq(lit(checks.size)) ++ args: _*)
  }

  /** Scalar-rule profile of one table: all rules ride one aggregate.
    * `pk_unique` is defined over the NON-NULL key domain on both engines
    * (Spark's count_distinct skips any-NULL argument rows, DuckDB's
    * DISTINCT over a row-value does not — so both sides filter
    * explicitly): a NULL key is a completeness defect, not a duplicate,
    * and counting it here would double-book it. */
  private def scalarAudit(df: DataFrame, table: String,
                          pk: Seq[Column], rules: (String, Column)*): DataFrame = {
    // coalesce: sum() over ZERO rows is NULL — an empty table must
    // audit as 0 violations, not NULL (the oracle coalesces
    // identically)
    val pkRule: Seq[(String, Column)] =
      if (pk.isEmpty) Seq.empty
      else {
        val allNotNull = pk.map(_.isNotNull).reduce(_ && _)
        Seq("pk_unique" -> (coalesce(sum(when(allNotNull, 1L).otherwise(0L)), lit(0L)) -
          count_distinct(pk.head, pk.tail: _*)))
      }
    val ruleAggs = rules.map { case (n, pred) =>
      n -> coalesce(sum(when(pred, 1L).otherwise(0L)), lit(0L))
    } ++ pkRule
    val agg = df.agg(count(lit(1)).as("__n"),
      ruleAggs.map { case (n, c) => c.as(s"__$n") }: _*)
    agg.select(lit(table).as("table_name"),
        stackChecks(ruleAggs.map { case (n, _) => n -> col(s"__$n") }: _*)
          .as(Seq("check", "n_bad")),
        col("__n").as("n_rows"))
  }

  /** Referential-integrity rule: count child rows whose NON-NULL foreign
    * key has no parent — SQL FK semantics (and Deequ's), where a NULL FK
    * satisfies the constraint (an optional reference is a completeness
    * question for a separate rule, not an orphan; r7f review).
    * Key-projected left join against the parent's DISTINCT keys (never
    * trust the key being checked to be unique — a duplicated parent key
    * would multiply child rows and corrupt both counts). */
  private def riAudit(child: DataFrame, fk: Column, parent: DataFrame,
                      pk: Column, table: String, check: String): DataFrame = {
    child.select(fk.as("__fk"))
      .join(parent.select(pk.as("__pk")).distinct(),
        col("__fk") === col("__pk"), "left")
      .agg(count(lit(1)).as("n_rows"),
        coalesce(sum(when(col("__fk").isNotNull && col("__pk").isNull, 1L)
          .otherwise(0L)), lit(0L)).cast("long").as("n_bad"))
      .select(lit(table).as("table_name"), lit(check).as("check"),
        col("n_bad"), col("n_rows"))
  }

  /** The full star-schema audit (q108). Rule set: value ranges on
    * lineitem/orders, null completeness on events.value, primary-key
    * uniqueness on customer/orders/lineitem, and the four fact→dim /
    * fact→fact foreign keys. */
  def dataAudit(lineitem: DataFrame, orders: DataFrame, customer: DataFrame,
                part: DataFrame, supplier: DataFrame,
                events: DataFrame): DataFrame = {
    val li = scalarAudit(
      lineitem.select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_discount")),
      "lineitem", Seq(col("l_orderkey"), col("l_linenumber")),
      "l_quantity_range" -> (col("l_quantity") < 1 || col("l_quantity") > 50),
      "l_discount_range" -> (col("l_discount") < 0 || col("l_discount") > 1))
    val o = scalarAudit(
      orders.select(col("o_orderkey"), col("o_totalprice")),
      "orders", Seq(col("o_orderkey")),
      "o_totalprice_positive" -> (col("o_totalprice") <= 0))
    val c = scalarAudit(customer.select(col("c_custkey")),
      "customer", Seq(col("c_custkey")))
    val ev = scalarAudit(events.select(col("value")), "events", Seq.empty,
      "value_complete" -> col("value").isNull,
      "value_nonnegative" -> (col("value") < 0))
    val ri = Seq(
      riAudit(orders, col("o_custkey"), customer, col("c_custkey"),
        "orders", "fk_custkey"),
      riAudit(lineitem, col("l_orderkey"), orders, col("o_orderkey"),
        "lineitem", "fk_orderkey"),
      riAudit(lineitem, col("l_partkey"), part, col("p_partkey"),
        "lineitem", "fk_partkey"),
      riAudit(lineitem, col("l_suppkey"), supplier, col("s_suppkey"),
        "lineitem", "fk_suppkey"))
    (Seq(li, o, c, ev) ++ ri)
      .reduce(_.unionByName(_))
      .orderedResult(col("table_name"), col("check"))
  }

  val registry: Map[String, QueryDef] = Map(

    // ── Deequ-style constraint audit: scalar rules share one scan per
    //    table (conditional sums + stack unpivot), RI rules are
    //    key-projected left joins; oracle recomputes every rule directly ──
    "q108_data_audit" -> QueryDef(
      (s, d) => dataAudit(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.part(s, d), Tables.supplier(s, d),
        Tables.events(s, d)),
      Some("""SELECT * FROM (
             |  SELECT 'lineitem' AS table_name, 'l_quantity_range' AS "check",
             |    CAST(COALESCE(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_bad,
             |    COUNT(*) AS n_rows FROM lineitem
             |  UNION ALL
             |  SELECT 'lineitem', 'l_discount_range',
             |    CAST(COALESCE(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END), 0) AS BIGINT),
             |    COUNT(*) FROM lineitem
             |  UNION ALL
             |  SELECT 'lineitem', 'pk_unique',
             |    COUNT(*) FILTER (WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL)
             |      - COUNT(DISTINCT (l_orderkey, l_linenumber))
             |        FILTER (WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL),
             |    COUNT(*) FROM lineitem
             |  UNION ALL
             |  SELECT 'orders', 'o_totalprice_positive',
             |    CAST(COALESCE(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END), 0) AS BIGINT),
             |    COUNT(*) FROM orders
             |  UNION ALL
             |  SELECT 'orders', 'pk_unique',
             |    COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey), COUNT(*) FROM orders
             |  UNION ALL
             |  SELECT 'customer', 'pk_unique',
             |    COUNT(c_custkey) - COUNT(DISTINCT c_custkey), COUNT(*) FROM customer
             |  UNION ALL
             |  SELECT 'events', 'value_complete',
             |    CAST(COALESCE(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT),
             |    COUNT(*) FROM events
             |  UNION ALL
             |  SELECT 'events', 'value_nonnegative',
             |    CAST(COALESCE(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END), 0) AS BIGINT),
             |    COUNT(*) FROM events
             |  UNION ALL
             |  SELECT 'orders', 'fk_custkey',
             |    CAST(COALESCE(SUM(CASE WHEN o.o_custkey IS NOT NULL AND c.c_custkey IS NULL
             |      THEN 1 ELSE 0 END), 0) AS BIGINT), COUNT(*)
             |  FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
             |    ON o.o_custkey = c.c_custkey
             |  UNION ALL
             |  SELECT 'lineitem', 'fk_orderkey',
             |    CAST(COALESCE(SUM(CASE WHEN l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL
             |      THEN 1 ELSE 0 END), 0) AS BIGINT), COUNT(*)
             |  FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
             |    ON l.l_orderkey = o.o_orderkey
             |  UNION ALL
             |  SELECT 'lineitem', 'fk_partkey',
             |    CAST(COALESCE(SUM(CASE WHEN l.l_partkey IS NOT NULL AND p.p_partkey IS NULL
             |      THEN 1 ELSE 0 END), 0) AS BIGINT), COUNT(*)
             |  FROM lineitem l LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p
             |    ON l.l_partkey = p.p_partkey
             |  UNION ALL
             |  SELECT 'lineitem', 'fk_suppkey',
             |    CAST(COALESCE(SUM(CASE WHEN l.l_suppkey IS NOT NULL AND s.s_suppkey IS NULL
             |      THEN 1 ELSE 0 END), 0) AS BIGINT), COUNT(*)
             |  FROM lineitem l LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier) s
             |    ON l.l_suppkey = s.s_suppkey
             |) ORDER BY table_name, "check"""".stripMargin))
  )
}
