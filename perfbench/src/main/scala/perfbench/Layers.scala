package perfbench

/** The per-layer metrics of a traced run. Every traced run prints all of
  * them; a layer a workload does not exercise reads 0. */
object Layers {

  /** The Spark counter set reported next to a timed layer span. */
  val CounterSuffixes: Seq[(String, String)] = Seq(
    "tasks" -> "count", "shuffle_mb" -> "MB", "spill_mb" -> "MB",
    "cpu_s" -> "s", "gc_s" -> "s", "peak_mem_mb" -> "MB")

  private def withCounters(base: String): Seq[(String, String)] =
    (s"${base}_s" -> "s") +: CounterSuffixes.map { case (k, u) => s"$base.$k" -> u }

  val Rungs: Seq[(Int, String)] = Seq(
    graft.model.PrecisionType.Specific -> "specific",
    graft.model.PrecisionType.FallbackSpecific -> "fallback_specific",
    graft.model.PrecisionType.SemiSpecific -> "semi_specific",
    graft.model.PrecisionType.General -> "general",
    graft.model.PrecisionType.FallbackGeneral -> "fallback_general",
    graft.model.PrecisionType.SuperGeneral -> "super_general",
    graft.model.PrecisionType.Unknown -> "unknown")

  val Names: Seq[(String, String)] =
    Seq("gtfs.schedule_read_s" -> "s") ++ withCounters("gtfs.decode") ++
    Seq("gtfs.feeds" -> "count", "gtfs.observations" -> "count") ++
    withCounters("gtfs.match") ++
    Seq("gtfs.records" -> "count", "gtfs.unmatched_obs" -> "count", "gtfs.kept_ratio" -> "ratio") ++
    Seq("sinks.records_write_s" -> "s", "sinks.stats_write_s" -> "s",
      "sinks.predictions_write_s" -> "s", "sinks.written_mb" -> "MB") ++
    withCounters("analyse.gapfill") ++ Seq("analyse.projected_rows" -> "count") ++
    withCounters("analyse.general") ++ Seq("analyse.general_curves" -> "count") ++
    withCounters("analyse.pairs") ++
    Seq("analyse.pair_rows" -> "count", "analyse.curve_sets" -> "count") ++
    withCounters("analyse.defaults") ++ Seq("analyse.default_cells" -> "count") ++
    Seq("curves.stop_pair_set_us" -> "us", "curves.stop_pair_set_max_us" -> "us",
      "curves.general_curve_us" -> "us", "curves.general_curve_max_us" -> "us",
      "curves.transfer_probability_us" -> "us") ++
    Seq("predict.requests_s" -> "s", "predict.requests" -> "count") ++
    withCounters("predict.resolve") ++
    Rungs.map { case (_, n) => s"predict.rung.$n" -> "count" } ++
    Seq("predict.lookup_build_ms_p50" -> "ms", "predict.point_us_p50" -> "us",
      "predict.realtime_s" -> "s") ++
    Seq("monitor.board_rows_mean" -> "count", "monitor.board_jobs_mean" -> "count",
      "monitor.transfer_pairs_mean" -> "count", "monitor.transfer_jobs_mean" -> "count") ++
    Seq("streaming.records_batch_ms_p50" -> "ms", "streaming.records_batch_ms_p90" -> "ms",
      "streaming.predictions_batch_ms_p50" -> "ms", "streaming.predictions_batch_ms_p90" -> "ms",
      "streaming.batches" -> "count", "streaming.feeds_per_batch_mean" -> "count",
      "streaming.state_rows" -> "count", "streaming.work_ratio" -> "ratio",
      "streaming.generator_late_ms_max" -> "ms",
      "streaming.freshness_p50_s" -> "s", "streaming.freshness_p90_s" -> "s") ++
    Seq("verb.import_s" -> "s", "verb.analyse_s" -> "s", "verb.predict_s" -> "s",
      "verb.board_p50_ms" -> "ms", "verb.board_p90_ms" -> "ms",
      "verb.transfer_p50_ms" -> "ms", "verb.transfer_p90_ms" -> "ms",
      "verb.predict_single_p50_ms" -> "ms", "verb.predict_single_p90_ms" -> "ms") ++
    Seq("trace.overhead_ms" -> "ms")

  private val unitOf: Map[String, String] = Names.toMap

  /** Collects layer metrics, giving each its declared unit. */
  final class Sink {
    private val m = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
    def put(name: String, v: Double): Unit = {
      val u = unitOf.getOrElse(name, sys.error(s"undeclared layer metric $name"))
      m(name) = (v, u)
    }
    def toMap: Map[String, (Double, String)] = m.toMap

    /** `<base>_s` and the counter set, medians over every span named
      * `span` (one per pass or request) that started at `since` or later. */
    def spanWithCounters(tr: Tracer, span: String, base: String, since: Long = 0L): Unit = {
      val ss = tr.named(span).filter(_.startNs >= since)
      if (ss.nonEmpty) {
        put(s"${base}_s", Stats.median(ss.map(_.durationS)))
        val cs = ss.map(tr.countersOf)
        def med(f: Counters => Double) = Stats.median(cs.map(f))
        put(s"$base.tasks", med(_.tasks.toDouble))
        put(s"$base.shuffle_mb", med(_.shuffleBytes / 1048576.0))
        put(s"$base.spill_mb", med(_.spillBytes / 1048576.0))
        put(s"$base.cpu_s", med(_.cpuNs / 1e9))
        put(s"$base.gc_s", med(_.gcMs / 1e3))
        put(s"$base.peak_mem_mb", med(_.peakMemBytes / 1048576.0))
      }
    }

    /** Median duration in seconds of the spans named `span` that started
      * at `since` or later. */
    def spanSeconds(tr: Tracer, span: String, name: String, since: Long = 0L): Unit = {
      val ss = tr.named(span).filter(_.startNs >= since)
      if (ss.nonEmpty) put(name, Stats.median(ss.map(_.durationS)))
    }
  }

  /** Bytes under a directory tree. */
  def treeBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }
}
