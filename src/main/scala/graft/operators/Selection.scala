package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact per-group order statistics WITHOUT sorting the data — iterative
  * radix-refinement selection (the distributed k-th-smallest algorithm;
  * Munro-Paterson lineage).
  *
  * A per-group window sort is one task per group; a global orderBy is a
  * full range sort of the corpus. This needs neither: round r buckets
  * every value by its signed ARITHMETIC right shift `v >> shift_r`
  * (shift descending 54, 44, …, 4, 0 — shifts preserve signed order and
  * cannot overflow, unlike subtraction under ANSI mode), restricted to
  * the group's prefix chosen so far. One aggregate pass per round
  * produces the dimension-sized (group, bucket) histogram; the driver
  * narrows each group's prefix to the bucket containing its k-th value
  * and reduces k by the mass below. After the shift-0 round the bucket
  * IS the value. Seven aggregate passes cover the full 64-bit domain —
  * each embarrassingly parallel with map-side partial aggregation; no
  * data shuffle, no per-group funnel, driver state is groups × 1.
  *
  * Callers that need SEVERAL ranks over the same data (q121's two
  * terciles, q97's two quartiles) use [[kthSmallestRanks]], which refines
  * ALL ranks jointly rather than once per rank: one init pass, and per
  * round ONE aggregate job that carries the rank index through the
  * histogram key. Round 1's histogram is computed once WITHOUT the rank
  * axis (every rank starts from the same empty prefix) and served to all
  * ranks; later rounds join the per-(rank, group) prefix table
  * (broadcast, dimension-sized) so each rank's rows are counted under
  * its own prefix. The per-rank pick logic is the single-rank one, so
  * results are identical to refining each rank on its own. */
object Selection {

  /** The k-th smallest (1-based, k = kOfN(group count)) of `valueCol`
    * per `groupCol`. Returns (groupCol: string, valueCol: long) — one
    * row per group. */
  def kthSmallest(data: DataFrame, groupCol: String, valueCol: String,
                  kOfN: Long => Long, shiftStep: Int = 10): DataFrame =
    kthSmallestRanks(data, groupCol, valueCol, Seq(kOfN), shiftStep).head

  /** Several order statistics per group over ONE persisted projection
    * and ONE jointly-refined histogram pass per round: each function in
    * `kOfNs` yields one (group, value) frame. Results are materialized
    * before the base unpersists — each returned frame is a
    * driver-literal. */
  def kthSmallestRanks(data: DataFrame, groupCol: String, valueCol: String,
                       kOfNs: Seq[Long => Long],
                       shiftStep: Int = 10): Seq[DataFrame] = {
    val base = data.select(col(groupCol).cast("string").as("g"),
      col(valueCol).cast("long").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      kthSmallestJoint(base, groupCol, valueCol, kOfNs, shiftStep)
    } finally {
      base.unpersist()
    }
  }

  private def kthSmallestJoint(base: DataFrame, groupCol: String,
                               valueCol: String, kOfNs: Seq[Long => Long],
                               shiftStep: Int): Seq[DataFrame] = {
    val spark = base.sparkSession
    import spark.implicits._
    val init = base.groupBy(col("g"))
      .agg(count(lit(1)).as("n"), min(col("v")).as("lo"), max(col("v")).as("hi"))
      .collect()
    // empty input: no groups, empty result — not an opaque empty.min crash
    if (init.isEmpty)
      return kOfNs.map(_ => Seq.empty[(String, Long)].toDF(groupCol, valueCol))
    // misuse must fail HERE with a named group, not several distributed
    // passes later as an opaque 'selection invariant broken';
    // a null group key would also NPE at getString below
    val ranks = kOfNs.indices
    init.foreach { r =>
      require(!r.isNullAt(0),
        s"kthSmallest: null $groupCol group — filter or coalesce it first")
      val (g, n) = (r.getString(0), r.getLong(1))
      kOfNs.foreach { kOfN =>
        val kk = kOfN(n)
        require(kk >= 1 && kk <= n,
          s"kthSmallest: kOfN($n) = $kk out of [1, $n] for group '$g'")
      }
    }
    // per-rank driver state: remaining k, fixed prefix, resolved value
    val k = ranks.map(ri => scala.collection.mutable.Map(
      init.map(r => r.getString(0) -> kOfNs(ri)(r.getLong(1))): _*)).toArray
    val prefix = ranks.map(_ =>
      scala.collection.mutable.Map.empty[String, Long]).toArray
    val result = ranks.map(_ =>
      scala.collection.mutable.Map.empty[String, Long]).toArray
    val (gmin, gmax) = (init.map(_.getLong(2)).min, init.map(_.getLong(3)).max)
    var prevShift = 64
    var shift = 64 - shiftStep
    // skip rounds whose shift can't split the data: when min and max
    // share the prefix at `shift`, every value does (shifts are
    // monotone), so the histogram would be one bucket per group — for
    // money-like domains this removes ~3 of the 7 passes
    while (shift > 0 && (gmin >> shift) == (gmax >> shift))
      shift -= shiftStep
    def done: Boolean = ranks.forall(ri => result(ri).size == k(ri).size)
    while (!done) {
      val cur = math.max(shift, 0)
      // hist(ri)(g) = (bucket, count) rows for rank ri's prefix of g.
      // Round 1 (no prefixes anywhere): one rank-free histogram serves
      // every rank; later rounds key the ONE aggregate by the rank
      // index riding the broadcast prefix table.
      val hist: Int => Map[String, Array[(Long, Long)]] =
        if (prevShift >= 64) {
          val h = base
            .groupBy(col("g"), shiftright(col("v"), cur).as("b"))
            .agg(count(lit(1)).as("cnt"))
            .collect()
            .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
            .groupBy(_._1)
            .map { case (g, ts) => g -> ts.map(t => (t._2, t._3)).toArray }
          _ => h
        } else {
          val pre = ranks.flatMap(ri =>
            prefix(ri).toSeq.filterNot { case (g, _) => result(ri).contains(g) }
              .map { case (g, p) => (ri, g, p) })
            .toDF("ri", "g", "p")
          val rows = base.join(broadcast(pre), Seq("g"))
            .filter(shiftright(col("v"), prevShift) === col("p"))
            .groupBy(col("ri"), col("g"), shiftright(col("v"), cur).as("b"))
            .agg(count(lit(1)).as("cnt"))
            .collect()
            .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
            .groupBy(_._1)
            .map { case (ri, ts) => ri -> ts.groupBy(_._2)
              .map { case (g, us) => g -> us.map(u => (u._3, u._4)).toArray } }
          ri => rows.getOrElse(ri, Map.empty)
        }
      ranks.foreach { ri =>
        val h = hist(ri)
        k(ri).keys.filterNot(result(ri).contains).foreach { g =>
          val byBucket = h(g).sortBy(_._1)
          var rem = k(ri)(g)
          var pick = Option.empty[Long]
          val it = byBucket.iterator
          while (pick.isEmpty && it.hasNext) {
            val (b, c) = it.next()
            if (rem <= c) pick = Some(b) else rem -= c
          }
          val chosen = pick.getOrElse(
            throw new IllegalStateException(s"selection invariant broken: $g"))
          if (cur == 0) result(ri)(g) = chosen
          else { prefix(ri)(g) = chosen; k(ri)(g) = rem }
        }
      }
      prevShift = cur
      shift = cur - shiftStep
    }
    ranks.map(ri => result(ri).toSeq.toDF(groupCol, valueCol))
  }

  /** Exact lower median per group: k = (n + 1) / 2. */
  def median(data: DataFrame, groupCol: String, valueCol: String): DataFrame =
    kthSmallest(data, groupCol, valueCol, n => (n + 1) / 2)
}
