package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * `queries` aggregates every operator battery; each battery maps part of
  * SURVEY.md §2's inventory onto the synthetic tables with a DuckDB oracle. */
object SparkEntry {

  /** All operator batteries, merged. */
  private lazy val all: Map[String, QueryDef] =
    RelationalQueries.registry ++ TextQueries.registry ++
      DedupQueries.registry ++ MultimodalQueries.registry ++
      AnnQueries.registry ++ GtfsPipeline.registry ++
      PipelineQueries.registry ++ CurationQueries.registry ++
      AssemblyQueries.registry ++ AuditQueries.registry

  /** Flagship: the engine's own domain end-to-end — GTFS schedule + 40
    * realtime feeds → records → curves → scheduled predictions (driver
    * smoke-checks rows>0). */
  def entry(spark: SparkSession): DataFrame =
    all("q42_gtfs_predictions").build(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (k, v) => k -> v.build }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.collect { case (k, QueryDef(_, Some(sql))) => k -> sql }
}
