package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twin of q118's hourly ingest-anomaly monitor: per
  * event_type, close each hour when the WATERMARK passes it, score the
  * closed hour's count against the trailing 24 closed hours (same fixed
  * IEEE z chain as the batch query), and emit it exactly once —
  * anomalies carry z, warm-up/degenerate hours carry NULL.
  *
  * Why `flatMapGroupsWithState` + EVENT-TIME timeout (a stateful
  * pattern the other streams don't need): the trailing-window score is
  * an aggregate OVER CLOSED AGGREGATES — a windowed count followed by a
  * 24-row ordered window — and Spark does not support a stateful
  * map after a streaming aggregation in append mode. One keyed state
  * per event_type holds everything instead: the OPEN hours' running
  * counts (bounded by the watermark horizon) and the ring of the last
  * 24 CLOSED counts; the timeout fires when the watermark passes the
  * earliest open hour, closing hours in event-time order.
  *
  * Hours close CONTIGUOUSLY from the type's first observed hour: when
  * the watermark passes an hour with no events, it closes with count 0
  * and enters the ring like any other — mirroring the batch query's
  * densified hour axis, so a dying feed's empty hours score z ≪ 0
  * instead of being invisible to the monitor (the watermark keeps
  * advancing on the other types' events, which is exactly the scenario
  * where one feed dies).
  *
  * State bound: ≤ 24 ring entries + horizon/1h open entries per
  * event_type — dimension-sized forever, independent of throughput.
  * Late rows for already-closed hours are dropped (the same rows a
  * watermarked aggregation would drop). */
object AnomalyStream {

  /** (hourStartMs → running count) for open hours; ring of closed
    * (hourStartMs, count) ascending, last 24 kept. */
  case class AnomalyState(open: Map[Long, Long], ring: Seq[(Long, Long)])

  case class HourScore(event_type: String, hour: java.sql.Timestamp,
                       c: Long, n_base: Int, z: Option[Double])

  private val HourMs = 3600L * 1000

  /** The q118 chain over the trailing ring — identical operation order
    * to the batch query and its DuckDB oracle. */
  private def zOf(c: Long, base: Seq[Long]): Option[Double] = {
    if (base.size != 24) return None
    val n = base.size.toDouble
    val sx = base.sum.toDouble
    val sxx = base.map(v => v * v).sum.toDouble
    val variance = (sxx - sx * sx / n) / n
    if (variance > 0) Some((c.toDouble - sx / n) / math.sqrt(variance))
    else None
  }

  private def score(eventType: String,
                    rows: Iterator[(String, java.sql.Timestamp)],
                    state: GroupState[AnomalyState]): Iterator[HourScore] = {
    val st = state.getOption.getOrElse(AnomalyState(Map.empty, Seq.empty))
    val lastClosed = st.ring.lastOption.map(_._1).getOrElse(Long.MinValue)
    val opened = rows.foldLeft(st.open) { case (open, (_, ts)) =>
      val h = math.floorDiv(ts.getTime, HourMs) * HourMs
      // a row for an hour the watermark already closed is late: drop
      if (h <= lastClosed && st.ring.nonEmpty) open
      else open.updated(h, open.getOrElse(h, 0L) + 1L)
    }
    val wm = state.getCurrentWatermarkMs()
    // close CONTIGUOUS hours the watermark has passed, starting right
    // after the last closed hour (zero-filling hours with no events —
    // the densified axis), or at the earliest observed hour on first
    // close; hours close in event-time order by construction
    var ring = st.ring
    var open = opened
    val out = Seq.newBuilder[HourScore]
    var next = ring.lastOption.map(_._1 + HourMs)
      .orElse(open.keys.minOption)
    while (next.exists(_ + HourMs <= wm)) {
      val h = next.get
      val c = open.getOrElse(h, 0L)
      open -= h
      val z = zOf(c, ring.takeRight(24).map(_._2))
      out += HourScore(eventType, new java.sql.Timestamp(h), c,
        math.min(ring.size, 24), z)
      ring = (ring :+ (h, c)).takeRight(24)
      next = Some(h + HourMs)
    }
    state.update(AnomalyState(open, ring))
    // the timeout drives hour closing: fire when the watermark passes
    // the end of the NEXT hour to close — which after a close round is
    // the hour right after the ring's tail (so zero hours keep closing
    // while OTHER keys advance the watermark), else the earliest open
    next.foreach(h => state.setTimeoutTimestamp(h + HourMs))
    out.result().iterator
  }

  /** Per-type hour scores, emitted once per closed hour. `events` needs
    * (event_type, ts); set `watermarkDelay` to the tolerated lateness. */
  def hourScores(events: DataFrame,
                 watermarkDelay: String = "0 seconds"): Dataset[HourScore] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("event_type"), col("ts"))
      .withWatermark("ts", watermarkDelay)
      .as[(String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(score)
  }
}
