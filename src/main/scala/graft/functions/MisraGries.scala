package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Misra-Gries heavy-hitter summary (Misra & Gries 1982) as a typed
  * Aggregator: the buffer is at most 2k (key, counter) pairs — bounded
  * state regardless of stream length or key universe, natively
  * row-encodable, map-side combinable. The per-group alternative (exact
  * groupBy counts) shuffles the full token relation; this shuffles at
  * most 2k counters per partial aggregate.
  *
  * Guarantee (m = the group's total element count): for every surviving
  * key x, count(x) − m/(k+1) ≤ reported(x) ≤ count(x), so every x with
  * count(x) > m/(k+1) SURVIVES in the summary: each compaction
  * subtracts `cut` (the (k+1)-th largest counter) from every key, and
  * since ≥ k+1 keys then hold ≥ cut, the stream mass pays ≥ (k+1)·cut
  * per compaction — Σcut ≤ m/(k+1). Merging sums counters under the
  * same compaction rule — the mergeable-summaries argument (Agarwal et
  * al., PODS 2012) that keeps the error bound additive across partials,
  * which is what makes map-side partial aggregation sound.
  *
  * Amortization: the textbook formulation decrements the
  * FULL buffer on every unseen tail key — O(k) per element exactly in
  * the tail-dominated regime the sketch targets. This buffer grows to
  * 2k and then compacts once, so a compaction's O(k) rebuild is paid at
  * most once per k−1 insertions: amortized O(1) per element.
  *
  * `finish` returns the surviving KEYS only (≤ 2k): a candidate
  * SUPERSET of {x : count(x) > m/(k+1)} whose exact counts a
  * verification pass must re-count (see CurationQueries.heavyHitters) —
  * reported counters are lower bounds, never output. */
class MisraGries(k: Int)
    extends Aggregator[String, Map[String, Long], Array[String]] {

  require(k >= 1)

  /** Subtract the (k+1)-th largest counter from all; strictly larger
    * survive (≤ k keys remain). */
  private def compact(m: Map[String, Long]): Map[String, Long] = {
    val cut = m.valuesIterator.toArray.sorted(Ordering[Long].reverse)(k)
    m.collect { case (s, c) if c > cut => s -> (c - cut) }
  }

  override def zero: Map[String, Long] = Map.empty

  override def reduce(b: Map[String, Long], a: String): Map[String, Long] =
    b.get(a) match {
      case Some(c) => b.updated(a, c + 1)
      case None if b.size < 2 * k => b.updated(a, 1L)
      case None => compact(b).updated(a, 1L)
    }

  override def merge(x: Map[String, Long], y: Map[String, Long])
  : Map[String, Long] = {
    val sum = y.foldLeft(x) { case (acc, (s, c)) =>
      acc.updated(s, acc.getOrElse(s, 0L) + c)
    }
    if (sum.size <= 2 * k) sum else compact(sum)
  }

  override def finish(b: Map[String, Long]): Array[String] =
    b.keysIterator.toArray.sorted

  override def bufferEncoder: Encoder[Map[String, Long]] =
    ExpressionEncoder[Map[String, Long]]()

  override def outputEncoder: Encoder[Array[String]] =
    ExpressionEncoder[Array[String]]()
}
