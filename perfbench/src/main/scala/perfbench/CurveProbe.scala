package perfbench

import org.apache.spark.sql.functions._
import graft.analyse.DelayAnalysis
import graft.curves.{Curve, CurveBuilder}
import graft.gtfs.GtfsStatic
import graft.model.{EventType, TimeSlot}

/** Per-call costs of the pure curve builders, measured on groups taken
  * from the workload's own data: its median-sized and its largest group. */
object CurveProbe {

  @volatile private var sink: Any = null

  /** Median microseconds per call of `f`, over calls made for ~150 ms.
    * Each result is kept, so the call cannot be optimised away. */
  def microsPerCall(f: () => Any): Double = {
    sink = f() // first call outside the sample
    val samples = scala.collection.mutable.ArrayBuffer[Double]()
    val until = System.nanoTime() + 150000000L
    while (samples.size < 3 || System.nanoTime() < until && samples.size < 2000) {
      val t0 = System.nanoTime()
      sink = f()
      samples += (System.nanoTime() - t0) / 1e3
    }
    Stats.median(samples.toSeq)
  }

  /** Curve-builder probes and the stop-pair row count of a finished
    * batch pass whose outputs lie under `out`. */
  def batch(ctx: Ctx, in: BatchPipeline.Inputs, out: String, layers: Layers.Sink): Unit = {
    val spark = ctx.spark
    val schedule = GtfsStatic.read(spark, in.gtfs)
    val projected = DelayAnalysis.projectedRecords(spark.read.parquet(s"$out/records"), schedule)
      .persist()
    try {
      val pairRows = DelayAnalysis.stopPairRows(projected).persist()
      try {
        layers.put("analyse.pair_rows", pairRows.queryExecution.toRdd.count().toDouble)
        val pairKey = Seq("route_variant", "start_idx", "end_idx")
        val defaultPairs = pairRows.filter(col("time_slot_id") === TimeSlot.Default.id &&
          col("event_type") === EventType.Departure)
        val pairGroups = defaultPairs.groupBy(pairKey.map(col): _*).count()
          .orderBy(col("count"), col("route_variant"), col("start_idx"), col("end_idx")).collect()
        if (pairGroups.nonEmpty) {
          def pairs(r: org.apache.spark.sql.Row): Seq[(Float, Float)] =
            defaultPairs.filter(col("route_variant") === r.getLong(0) &&
              col("start_idx") === r.getInt(1) && col("end_idx") === r.getInt(2))
              .select("start_delay", "end_delay").collect()
              .map(x => (x.getFloat(0), x.getFloat(1))).toSeq
          val med = pairs(pairGroups(pairGroups.length / 2))
          val big = pairs(pairGroups.last)
          layers.put("curves.stop_pair_set_us", microsPerCall(() => CurveBuilder.stopPairCurveSet(med)))
          layers.put("curves.stop_pair_set_max_us", microsPerCall(() => CurveBuilder.stopPairCurveSet(big)))
        }
      } finally pairRows.unpersist()
      val departures = projected.filter(col("delay_departure").isNotNull)
      val genGroups = departures.groupBy("route_variant", "stop_index").count()
        .orderBy(col("count"), col("route_variant"), col("stop_index")).collect()
      if (genGroups.nonEmpty) {
        def delays(r: org.apache.spark.sql.Row): Seq[Float] =
          departures.filter(col("route_variant") === r.getLong(0) && col("stop_index") === r.getInt(1))
            .select(col("delay_departure").cast("float")).collect().map(_.getFloat(0)).toSeq
        val med = delays(genGroups(genGroups.length / 2))
        val big = delays(genGroups.last)
        layers.put("curves.general_curve_us", microsPerCall(() => CurveBuilder.generalDelayCurve(med)))
        layers.put("curves.general_curve_max_us", microsPerCall(() => CurveBuilder.generalDelayCurve(big)))
      }
    } finally projected.unpersist()
  }

  /** Transfer-probability cost on an arrival and a departure curve. */
  def transfer(arrival: Curve, departure: Curve, layers: Layers.Sink): Unit =
    layers.put("curves.transfer_probability_us",
      microsPerCall(() => Curve.transferProbability(arrival, departure)))
}
