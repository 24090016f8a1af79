package graft
import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExecBase

/** Plan-shape audit: the structural rules every registered query must
  * satisfy to survive a 100 TB corpus, applied to the PHYSICAL plan.
  * PlanAuditSpec runs [[audit]] over the whole SparkEntry registry as a
  * test gate (r7 — the r5/r6 plan defects, CollapseProject re-inlining and
  * mid-pipeline single-partition sorts, were each found by MANUAL plan
  * reading; this encodes those audits so the next regression fails a test
  * instead of waiting for a reviewer). The `main` stays as the dev-loop
  * dumper for eyeballing full formatted plans. */
object PlanAudit {

  /** Violations found in one plan; all empty = the plan passes the gate. */
  final case class Findings(cartesians: Seq[String], globalWindows: Seq[String],
                            midPipelineGlobalSorts: Seq[String]) {
    def isEmpty: Boolean =
      cartesians.isEmpty && globalWindows.isEmpty && midPipelineGlobalSorts.isEmpty
    def describe: String = Seq(
      cartesians.map("cartesian product: " + _),
      globalWindows.map("window over empty partition spec (single-task funnel): " + _),
      midPipelineGlobalSorts.map("global sort feeding a join/aggregate/window: " + _))
      .flatten.mkString("; ")
  }

  /** Structural rules:
    *  1. no CartesianProduct node anywhere (incl. subqueries) — every
    *     registered pairing must be equi-keyed, banded, blocked or
    *     broadcast;
    *  2. no Window over an empty partitionSpec — a global window funnels
    *     the whole relation through ONE task (the q59/q64 shape the r5
    *     verdict flagged; both were re-planned without it);
    *  3. no global Sort BELOW a join/aggregate/window — a total ordering
    *     is only ever a final OUTPUT property; sorting mid-pipeline pays
    *     a range-exchange funnel and is recomputed per consumer (the r7
    *     q57/q80/q81 `sorted = false` fix). The final orderBy sits ABOVE
    *     all consumers, so it never trips this rule. */
  /** Children + subquery plans + cached-relation inner plans, with a
    * RUNTIME type guard: `QueryPlan.subqueries` blindly casts each
    * PlanExpression's plan to the host's plan type, and a persisted
    * relation (the r8 shared tfPairStats cache) can smuggle a LOGICAL
    * plan into a physical tree that way — `collectWithSubqueries` then
    * dies on the unsound cast. Cached plans are DESCENDED into: the
    * work a query parks behind `persist()` is still its plan shape. */
  private def kids(p: SparkPlan): Seq[SparkPlan] = {
    val subs = p.expressions
      .flatMap(_.collect {
        case pe: org.apache.spark.sql.catalyst.expressions.PlanExpression[_] =>
          pe.plan
      })
      .collect { case sp: SparkPlan => sp }
    val cached = p match {
      case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        Seq(im.relation.cachedPlan)
      case _ => Nil
    }
    // AQE wrappers have NO children (the plan lives in executedPlan) —
    // without this hook a cached relation planned under AQE is a wall:
    // the r11 shared kNN relations hid their triangle-cover markers
    // behind InMemoryTableScan → AdaptiveSparkPlanExec, and the audit
    // could not see inside any adaptive cached subtree. Descending the
    // current executedPlan (the initial plan pre-execution) restores
    // full-tree coverage.
    val adaptive = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case _ => Nil
    }
    p.children ++ subs ++ cached ++ adaptive
  }

  private def allNodes(plan: SparkPlan): Seq[SparkPlan] =
    plan +: kids(plan).flatMap(allNodes)

  def audit(plan: SparkPlan): Findings = {
    val nodes = allNodes(plan)
    val carts = nodes.collect {
      case c: CartesianProductExec => c.simpleString(80)
    }
    val gw = nodes.collect {
      case w: WindowExecBase if w.partitionSpec.isEmpty => w.simpleString(80)
    }
    val sorts = Seq.newBuilder[String]
    def walk(p: SparkPlan, underConsumer: Boolean): Unit = {
      p match {
        case s: SortExec if s.global && underConsumer =>
          sorts += s.simpleString(80)
        case _ => ()
      }
      val below = underConsumer || (p match {
        case _: BaseJoinExec | _: BaseAggregateExec | _: WindowExecBase => true
        case _ => false
      })
      kids(p).foreach(walk(_, below))
    }
    walk(plan, underConsumer = false)
    Findings(carts, gw, sorts.result())
  }

  /** The PushedFilters entries of every parquet scan in the plan — a scan
    * that reaches the file source with `[]` while the query filters on a
    * scanned column means the pushdown broke. */
  def pushedFilters(plan: SparkPlan): Seq[String] =
    allNodes(plan).collect {
      case f: FileSourceScanExec => f.metadata.getOrElse("PushedFilters", "")
    }

  /** Whether any node in the plan OUTPUTS a column of this name —
    * string rendering truncates wide schemas, so marker checks must walk
    * the attributes, not the tree string. */
  def hasColumn(plan: SparkPlan, name: String): Boolean =
    allNodes(plan).exists(_.output.exists(_.name == name))

  /** Dev-only dumper: formatted plans for the named queries. */
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local(GraftSession.envCores)
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    for (q <- names) {
      val df = SparkEntry.queries(q)(spark, sfDir)
      val f = audit(df.queryExecution.sparkPlan)
      println(s"===== $q audit=${if (f.isEmpty) "ok" else f.describe} " +
        s"pushed=${pushedFilters(df.queryExecution.sparkPlan).mkString("|")}")
      if (args.nonEmpty) df.explain("formatted")
    }
    spark.stop()
  }
}
