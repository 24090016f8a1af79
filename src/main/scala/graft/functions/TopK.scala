package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Per-group top-k as a typed Aggregator with a bounded buffer — the
  * window-free formulation of `row_number over (partition by g order by
  * v desc, id) <= k`: a rank window shuffles EVERY row of the group to
  * one task; this keeps k (value, id) pairs per partial aggregate,
  * combines map-side, and the final merge handles k·partitions rows.
  * MULTISET semantics (duplicates kept, like row_number), ordered by
  * (value DESC, id ASC); deterministic because equal (value, id)
  * entries are interchangeable. */
class TopK(k: Int)
    extends Aggregator[(Long, Long), Array[(Long, Long)], Array[(Long, Long)]] {

  require(k >= 1)

  /** strictly-precedes in output order: higher value first, then lower id. */
  private def precedes(a: (Long, Long), b: (Long, Long)): Boolean =
    a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)

  override def zero: Array[(Long, Long)] = Array.empty

  override def reduce(b: Array[(Long, Long)], a: (Long, Long))
  : Array[(Long, Long)] = {
    if (b.length >= k && !precedes(a, b(b.length - 1))) b
    else {
      var at = 0
      while (at < b.length && !precedes(a, b(at))) at += 1
      val n = math.min(b.length + 1, k)
      val out = new Array[(Long, Long)](n)
      System.arraycopy(b, 0, out, 0, at)
      out(at) = a
      System.arraycopy(b, at, out, at + 1, n - at - 1)
      out
    }
  }

  override def merge(x: Array[(Long, Long)], y: Array[(Long, Long)])
  : Array[(Long, Long)] = {
    val out = new Array[(Long, Long)](math.min(x.length + y.length, k))
    var (i, j, n) = (0, 0, 0)
    while (n < out.length) {
      out(n) =
        if (j >= y.length || (i < x.length && !precedes(y(j), x(i)))) {
          val v = x(i); i += 1; v
        } else { val v = y(j); j += 1; v }
      n += 1
    }
    out
  }

  override def finish(b: Array[(Long, Long)]): Array[(Long, Long)] = b

  override def bufferEncoder: Encoder[Array[(Long, Long)]] =
    ExpressionEncoder[Array[(Long, Long)]]()

  override def outputEncoder: Encoder[Array[(Long, Long)]] =
    ExpressionEncoder[Array[(Long, Long)]]()
}

object TopK {
  /** The (Long, Long) udaf every call site needs: the encoder wiring
    * lives here, in one place for all of them. */
  def longPairUdaf(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(new TopK(k),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong))
}
