package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an edge relation — the finishing
  * step of every near-dup pipeline: candidate pairs (MinHash/SimHash/
  * Jaccard joins) say "these two documents are duplicates", components say
  * "this is the duplicate GROUP", and the canonical representative (min id
  * per component) is what a training-data pipeline actually keeps.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC 2014) — converges
  * to one star per component (center = component min) in O(log² n) rounds
  * regardless of component diameter, where naive min-label propagation
  * needs O(diameter) rounds (a 1M-doc near-dup chain would need 1M).
  * Each round is two keyed aggregations + joins over the edge relation —
  * no driver-side state, edge partitions never have to hold a whole
  * component, so the operator survives components that outgrow an
  * executor.
  *
  * Iterative-lineage discipline (same lesson as AnnQueries.kmeansCells):
  * every round's edge set is checkpointed through a [[CheckpointCycle]] —
  * without truncation the plan doubles per round, and without the cycle's
  * cleanup a k-round run leaves k reliable-checkpoint directories behind.
  * On a cluster, set a reliable checkpoint dir
  * (`sparkContext.setCheckpointDir`) and rounds persist to fault-tolerant
  * storage; without one the operator falls back to `localCheckpoint`
  * (single-JVM / test mode).
  */
object ConnectedComponents {

  /** max→min orientation with self-loops dropped — the canonical edge
    * form both star operations preserve. Duplicate rows are NOT merged
    * here: every registry edge relation is a verified unique pair set
    * (distinct candidates → per-pair verification), and a round-0
    * `.distinct()` would be one full shuffle of the LARGEST relation the
    * operator ever touches (the q125 corpus-wide edge set is 2.9 M rows
    * at sf0.1) for nothing. Correctness does not depend on it:
    * both star operations are set-semantic — min-aggregates are
    * duplicate-insensitive and each ends in its own `.distinct()` — so
    * a caller that does pass duplicate edges converges to the identical
    * forest, paying only extra round-1 rows (PipelineQueriesSpec's
    * random-graph trials cover duplicated input edges). The fixpoint
    * test is also safe: the round-0 checksum counts physical rows, so a
    * dup-carrying input can never collide with its deduplicated
    * round-1 successor. Note for SYMMETRIZED inputs ((a,b) and (b,a)
    * both present — a common external edge representation):
    * orient maps both to the same row, and identical rows cancel
    * pairwise under the checksum's xor — the "edge set is distinct so
    * xor never cancels" hardening below does not apply to round 0 of
    * such an input. The COUNT component still separates round 0 (2k
    * physical rows) from its deduplicated successor (k rows), so the
    * fixpoint compare cannot fire early; only the xor's extra collision
    * hardening is weakened, and only for that one round. */
  private def orient(e: DataFrame): DataFrame =
    e.filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))

  /** Large-star: for every node u, connect each LARGER neighbor v to
    * m = min(Γ(u) ∪ {u}). Runs on the symmetrized adjacency; output stays
    * max→min oriented because m ≤ u < v. */
  private def largeStar(in: DataFrame): DataFrame = {
    val sym = in.unionByName(in.select(col("v").as("u"), col("u").as("v")))
    val m = sym.groupBy("u").agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    sym.join(m, Seq("u"))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Small-star: for every node u, connect each SMALLER-or-equal neighbor
    * (and u itself) to m = min of them. Input must be max→min oriented, so
    * each u's neighbor list here is exactly its smaller neighbors. */
  private def smallStar(in: DataFrame): DataFrame = {
    val m = in.groupBy("u").agg(min(col("v")).as("m"))
    in.join(m, Seq("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .unionByName(m.select(col("u"), col("m").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Star forest of the undirected graph `edges` (columns u, v; any
    * orientation, self-loops tolerated): one (node, componentMin) row per
    * non-min node of each component. Empty input → empty output. */
  def starForest(edges: DataFrame, maxRounds: Int = 64): DataFrame = {
    // cycle, not plain truncate: each round's checkpoint data is deleted
    // as soon as the next round supersedes it — a k-round run retires one
    // directory (the returned forest's), not k
    val ckpt = Checkpoints.cycle()
    var e = ckpt.truncate(orient(edges))
    // fixpoint = star forest (both ops leave stars unchanged); detected by
    // a checksum of the canonical edge set: (count, order-independent
    // hash-xor, min u, max u, min v, max v). xor, not sum: overflow-free
    // under ANSI mode, and the edge set is distinct so xor never cancels
    // duplicates. The extrema cost nothing extra (same single aggregate)
    // and harden the ~2^-64 xor-collision risk: a collision between
    // successive NON-equal edge sets must now also preserve all four
    // extrema to cause a silent early exit.
    def checksum(df: DataFrame): (Long, Long, Long, Long, Long, Long) = {
      val r = df.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))"),
        min(col("u")), max(col("u")), min(col("v")), max(col("v"))).head()
      def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
      (r.getLong(0), l(1), l(2), l(3), l(4), l(5))
    }
    var prev = checksum(e)
    var rounds = 0
    while (prev._1 > 0 && rounds < maxRounds) {
      e = ckpt.truncate(smallStar(largeStar(e)))
      val cur = checksum(e)
      if (cur == prev) return e
      prev = cur
      rounds += 1
    }
    if (prev._1 == 0) e
    else throw new IllegalStateException(
      s"connected components did not converge in $maxRounds rounds")
  }

  /** Component assignment for every vertex: (id, component) where
    * component = min id reachable from `id`; vertices untouched by any
    * edge are their own component. `vertices` needs an `id` column;
    * `edges` needs u, v. */
  def components(vertices: DataFrame, edges: DataFrame): DataFrame = {
    val stars = starForest(edges)
      .select(col("u").as("id"), col("v").as("component"))
    vertices.select(col("id"))
      .join(stars, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("component"))
  }
}
