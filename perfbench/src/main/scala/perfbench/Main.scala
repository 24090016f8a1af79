package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** What a workload hands back: the outputs check, the operation tally and
  * its metrics (name -> (value, unit)). */
final case class Result(correct: Boolean, tally: Stats.Tally,
                        endToEnd: Map[String, (Double, String)],
                        layers: Map[String, (Double, String)])

/** Everything a workload needs for one run. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: Path,
                val seed: Long, val seconds: Int) {
  def dir(name: String): String = work.resolve(name).toString
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

/** One workload per JVM: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --out <jsonl>`. Prints the result JSON as
  * the last line of stdout. */
object Main {

  val Workloads: Map[String, Ctx => Result] = Map(
    "batch_pipeline" -> BatchPipeline.run,
    "monitor_serving" -> MonitorServing.run)

  /** The session settings every workload runs under: local[cores] with
    * the engine's extensions, one shuffle partition per core, AQE
    * planning 8 partitions per core, UTC. */
  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", (cores * 8).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def json(correct: Boolean, tally: Stats.Tally, metrics: Map[String, (Double, String)]): String = {
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
    val ms = metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": $correct, "attempted": ${tally.attempted}, "failed": ${tally.failed}, "metrics": {$ms}}"""
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val workload = Workloads.getOrElse(name,
      sys.error(s"unknown workload $name; known: ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)
    val traced = opts.getOrElse("trace", "0") == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(cores, work)
    val tracer = new Tracer(traced, spark.sparkContext)
    val ctx = new Ctx(spark, tracer, work, opts("seed").toLong, opts("seconds").toInt)
    val result = try workload(ctx) finally {
      tracer.drain()
      opts.get("out").foreach(o => tracer.writeJsonl(Paths.get(o)))
    }
    spark.stop()
    val metrics =
      if (traced) Layers.Names.map { case (n, u) =>
        n -> result.layers.getOrElse(n, (0.0, u)) }.toMap
      else result.endToEnd
    println(json(result.correct, result.tally, metrics))
  }
}
