package graft.analyse

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.types.StructType

/** S7: the statistics store. The reference serializes one nested
  * `DelayStatistics` tree to MessagePack (`all_curves.exp` /
  * `default_curves.exp`, `src/analyser/curves.rs:43`,
  * `src/types/delay_statistics.rs:29-49`) with an optional directory-tree
  * layout (`save_tree`, `types.md:19-27`). The relational replacement is
  * three parquet tables; `save_tree`'s route/variant directory nesting IS
  * parquet `partitionBy(route_id)` — partition pruning then serves the
  * per-route scans (S6) that the reference does with SQL WHERE clauses.
  *
  * The reference's statistics merge (`src/main.rs:295-318`: specific curves
  * from `all_curves.exp` + general curves from `default_curves.exp`) becomes
  * two independent table reads — no merge step needed.
  *
  * The table schemas are the row case classes ([[GeneralCurveRow]],
  * [[CurveSetRow]], [[DefaultCurveRow]]; `route_id`, the partition column,
  * listed last), declared on read rather than inferred from the files:
  * `route_id` is a string whatever its values look like (routes "07" and
  * "7" stay two routes), a table written from zero rows loads as empty,
  * and loading submits no Spark job (partition directories are listed on
  * the driver up to `spark.sql.sources.parallelPartitionDiscovery.threshold`
  * routes).
  */
object StatisticsIO {

  val GeneralDir = "general_delay_curves"
  val CurveSetsDir = "curve_sets"
  val DefaultDir = "default_curves"

  /** Write all three statistics tables under `baseDir`. The per-variant
    * tables partition by route_id (bounded cardinality, prunes per-route
    * lookups); default curves are a tiny grid — a single file. */
  def save(baseDir: String, general: DataFrame, curveSets: DataFrame,
           defaults: DataFrame): Unit = {
    general.write.mode("overwrite")
      .partitionBy("route_id").parquet(s"$baseDir/$GeneralDir")
    curveSets.write.mode("overwrite")
      .partitionBy("route_id").parquet(s"$baseDir/$CurveSetsDir")
    defaults.coalesce(1).write.mode("overwrite").parquet(s"$baseDir/$DefaultDir")
  }

  final case class Statistics(general: DataFrame, curveSets: DataFrame,
                              defaults: DataFrame)

  def load(spark: SparkSession, baseDir: String): Statistics = {
    def read(dir: String, schema: StructType) =
      spark.read.schema(schema).parquet(s"$baseDir/$dir")
    // a partitioned read lists route_id last; declaring it there keeps a
    // table without partition directories (zero rows) in the same layout
    def routeLast(schema: StructType) =
      StructType(schema.filterNot(_.name == "route_id") :+ schema("route_id"))
    Statistics(
      general = read(GeneralDir, routeLast(Encoders.product[GeneralCurveRow].schema)),
      curveSets = read(CurveSetsDir, routeLast(Encoders.product[CurveSetRow].schema)),
      defaults = read(DefaultDir, Encoders.product[DefaultCurveRow].schema))
  }

  /** Run the whole analyse pipeline and persist it (the `analyse
    * compute-curves --all` entry point, SURVEY.md §3.2). */
  def computeAndSave(records: DataFrame, schedule: graft.gtfs.GtfsStatic.Schedule,
                     baseDir: String): Statistics = {
    val projected = DelayAnalysis.projectedRecords(records, schedule)
    // the projection feeds three aggregations: materialize it once
    projected.persist()
    try {
      save(baseDir,
        DelayAnalysis.generalDelayCurves(projected),
        DelayAnalysis.stopPairCurveSets(projected),
        // A9 consumes the RAW records, not the gap-filled projections
        // (reference default_curves.rs:115-117)
        DelayAnalysis.defaultCurves(records, schedule, schedule.routes))
    } finally projected.unpersist()
    load(records.sparkSession, baseDir)
  }
}
