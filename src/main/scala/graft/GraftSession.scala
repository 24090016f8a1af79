package graft

import org.apache.spark.sql.SparkSession

/** The one session policy every entry point runs under, so the oracle
  * gate, the plan audit and the specs plan exactly what gets benched. */
object GraftSession {

  /** local[cores] with [[GraftExtensions]], one shuffle partition per
    * core, AQE planning 8 partitions per core before it coalesces, UTC,
    * no UI, WARN logging. */
  def local(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", (cores * 8).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Whether `path` exists, asked of the path's own Hadoop file system,
    * so `file:`, `hdfs:` and `s3a:` URIs answer like plain local paths. */
  def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The core count the command-line mains run at: `SPARK_GRAFT_CPUS`,
    * 4 when unset. */
  def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)
}
