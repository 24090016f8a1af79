package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
import graft.curves.{CurveBuilder, PairRuns, Runs}
import graft.analyse.{CurvePoint, DelayAnalysis}

/** §2.8 extension: INCREMENTAL curve maintenance. The reference (and the
  * batch `analyse` pipeline here, SURVEY §3.2) rebuilds delay statistics
  * from all records in a scheduled offline run; this operator keeps the
  * general per-stop curves (A8 semantics) CONTINUOUSLY up to date from the
  * observation stream instead.
  *
  * The trick that makes streaming maintenance exact rather than
  * approximate: delays are INTEGERS (seconds), so a per-group count
  * histogram `delay → n` is a lossless sufficient statistic — it IS the
  * run-length multiset the batch builder reduces its sample list to. The
  * emissions hand it to the [[graft.curves.CurveBuilder]] contracts as
  * [[graft.curves.Runs]], so streamed curves are the batch curves over the
  * same observations, for any count (spec-pinned). No reservoir, no
  * sketch, no approximation.
  *
  * State is BOUNDED by the delay domain, not the observation count: a
  * group's histogram has at most one entry per distinct integer delay
  * (≤ 72 001 under the ±36 000 validity rule F1, a few hundred in
  * practice), so a year of observations costs the same state as a day —
  * the property that lets the automatic mode run unbounded. Emission is
  * Update-mode: each micro-batch re-emits curves only for groups it
  * touched, gated by the builder's sample rule (F9). */
object CurveStream {

  /** One delay observation, already classified (route/variant resolved
    * against the schedule, time slot from [[graft.model.Classifiers]]). */
  final case class DelayObs(route_id: String, route_variant: Long,
      stop_index: Int, event_type: Int, time_slot_id: Int, delay: Int)

  /** An updated general curve for one group, as emitted after a batch. */
  final case class CurveUpdate(route_id: String, route_variant: Long,
      stop_index: Int, event_type: Int, time_slot_id: Int,
      precision_type: Int, sample_size: Int, points: Seq[CurvePoint])

  private type Key = (String, Long, Int, Int, Int)

  /** The group's general curve over its delay histogram. */
  private def generalUpdate(key: Key, h: Map[Int, Long]): Option[CurveUpdate] =
    CurveBuilder.generalDelayCurve(Runs.fromCounts(h.toSeq.map { case (d, c) => (d.toFloat, c) }))
      .map { cd =>
        CurveUpdate(key._1, key._2, key._3, key._4, key._5, cd.precisionType,
          cd.sampleSize, cd.curve.points.map(p => CurvePoint(p._1, p._2)))
      }

  /** Continuous general-curve maintenance over an observation stream.
    * One stateful shuffle keyed by curve group; per batch each touched
    * group folds its new delays into the histogram and re-emits its
    * curve once it passes the sample gate. */
  def generalCurveStream(obs: Dataset[DelayObs]): Dataset[CurveUpdate] = {
    val spark = obs.sparkSession
    import spark.implicits._
    obs
      .groupByKey(o => (o.route_id, o.route_variant, o.stop_index,
        o.event_type, o.time_slot_id))
      .flatMapGroupsWithState[Map[Int, Long], CurveUpdate](
        OutputMode.Update(), GroupStateTimeout.NoTimeout)(
        (key: Key, rows: Iterator[DelayObs], state) => {
          // mutable fold: one allocation per batch, not per observation
          val h = scala.collection.mutable.Map.empty[Int, Long]
          state.getOption.foreach(m => h ++= m)
          rows.foreach(o => h(o.delay) = h.getOrElse(o.delay, 0L) + 1L)
          val m = h.toMap
          state.update(m)
          generalUpdate(key, m).iterator
        })
  }

  /** One stop-pair delay observation (A7 input contract: delays already
    * |d| < 3000-thresholded and 12 s-rounded, as
    * [[graft.analyse.DelayAnalysis.stopPairRowsBase]] emits them). */
  final case class PairObs(route_id: String, route_variant: Long,
      start_idx: Int, end_idx: Int, event_type: Int, time_slot_id: Int,
      start_delay: Float, end_delay: Float)

  /** An updated curve SET for one stop-pair group and slot. */
  final case class CurveSetUpdate(route_id: String, route_variant: Long,
      start_stop_index: Int, end_stop_index: Int, time_slot_id: Int,
      event_type: Int, precision_type: Int, sample_size: Int,
      curves: Seq[graft.analyse.FocusCurve])

  /** Incremental A7: continuous stop-pair curve-SET maintenance. Pair
    * delays arrive rounded to 12 s multiples (the F2/F3 contract), so the
    * (slot, start, end) COUNT histogram is again a lossless sufficient
    * statistic. Emission splits it into the batch aggregate's slot groups
    * ([[graft.analyse.DelayAnalysis.slotGroups]]) and builds each group's
    * [[graft.curves.PairRuns]] straight from the counts, so streamed curve
    * sets equal the offline build over the same observations
    * (spec-pinned), and an emission costs O(distinct pairs), not
    * O(observations). State per group is bounded by the distinct
    * (slot, start, end) domain (≤ slots × 499² under F2/F3, a few hundred
    * in practice). */
  def pairCurveStream(obs: Dataset[PairObs]): Dataset[CurveSetUpdate] = {
    val spark = obs.sparkSession
    import spark.implicits._
    obs
      .groupByKey(o => (o.route_id, o.route_variant, o.start_idx,
        o.end_idx, o.event_type))
      .flatMapGroupsWithState[Array[((Int, Float, Float), Long)], CurveSetUpdate](
        OutputMode.Update(), GroupStateTimeout.NoTimeout)(
        (key: (String, Long, Int, Int, Int), rows: Iterator[PairObs], state) => {
          val h = scala.collection.mutable.Map.empty[(Int, Float, Float), Long]
          state.getOption.foreach(_.foreach { case (k, c) => h(k) = c })
          rows.foreach { o =>
            val k = (o.time_slot_id, o.start_delay, o.end_delay)
            h(k) = h.getOrElse(k, 0L) + 1L
          }
          state.update(h.toArray)
          val groups = DelayAnalysis.slotGroups(h.toSeq.map { case ((slot, sd, ed), c) =>
            (slot, ((sd, ed), c))
          })
          DelayAnalysis.pairCurveSets(groups.map { case (slot, es) => (slot, PairRuns.fromCounts(es)) })
            .iterator.map { case (slot, pt, n, curves) =>
              CurveSetUpdate(key._1, key._2, key._3, key._4, slot,
                key._5, pt, n, curves)
            }
        })
  }

  /** Batch twin for verification and backfill: the same histogram → curve
    * path over a static DataFrame of observations. The streaming operator
    * must converge to exactly this after any batch split (spec-pinned),
    * and it must equal the batch builder's curve. */
  def generalCurvesBatch(obs: DataFrame): DataFrame = {
    val spark = obs.sparkSession
    import spark.implicits._
    obs.select(col("route_id"), col("route_variant"), col("stop_index"),
      col("event_type"), col("time_slot_id"), col("delay"))
      .as[DelayObs]
      .groupByKey(o => (o.route_id, o.route_variant, o.stop_index,
        o.event_type, o.time_slot_id))
      .mapGroups { (key, rows) =>
        val h = scala.collection.mutable.Map.empty[Int, Long]
        rows.foreach(o => h(o.delay) = h.getOrElse(o.delay, 0L) + 1L)
        (key, h.toMap)
      }
      .flatMap { case (key, h) => generalUpdate(key, h) }
      .toDF()
  }
}
