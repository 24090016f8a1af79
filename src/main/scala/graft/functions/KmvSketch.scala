package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** K-minimum-values distinct sketch (Bar-Yossef et al., RANDOM 2002) as a
  * typed Aggregator: the buffer is the SORTED array of the k smallest
  * DISTINCT hash values seen — bounded state (≤ k longs), natively
  * row-encodable, map-side partial aggregation, and a deterministic
  * result (set semantics make reduce/merge order irrelevant), unlike HLL
  * whose register layout is engine-internal. `finish` returns
  * (n_kept, kth_min); the estimator D ≈ (k−1)·M / kth_min — or exactly
  * n_kept when fewer than k distinct values exist — is left to the
  * caller so the oracle can reproduce the whole computation (q74).
  *
  * The hash is the caller's portable multiplicative hash on [0, M); the
  * sketch itself never hashes, so both engines rank identical values.
  * The below-k branch is exact over distinct HASH
  * values, not distinct keys — two keys colliding under the caller's
  * hash merge into one sketch entry, so n_kept can undercount the
  * original key universe by the (input-dependent) collision count. The
  * oracle applies the same hash and collides identically, so parity
  * holds; just don't read n_kept as an exact COUNT DISTINCT of the
  * unhashed column. */
class KmvSketch(k: Int) extends Aggregator[Long, Array[Long], (Int, Long)] {

  require(k > 1, "k must exceed 1 for the (k-1)·M/h_k estimator")

  override def zero: Array[Long] = Array.emptyLongArray

  override def reduce(b: Array[Long], a: Long): Array[Long] = {
    val i = java.util.Arrays.binarySearch(b, a)
    if (i >= 0) b // already present
    else {
      val at = -i - 1
      if (b.length >= k && at >= k) b // larger than the current k-th min
      else {
        val n = math.min(b.length + 1, k)
        val out = new Array[Long](n)
        System.arraycopy(b, 0, out, 0, at)
        out(at) = a
        System.arraycopy(b, at, out, at + 1, n - at - 1)
        out
      }
    }
  }

  override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
    // merge two sorted distinct arrays, keep the k smallest distinct
    val out = new Array[Long](math.min(x.length + y.length, k))
    var (i, j, n) = (0, 0, 0)
    while (n < out.length && (i < x.length || j < y.length)) {
      val v =
        if (j >= y.length || (i < x.length && x(i) <= y(j))) { val v = x(i); i += 1; v }
        else { val v = y(j); j += 1; v }
      if (n == 0 || out(n - 1) != v) { out(n) = v; n += 1 }
    }
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }

  override def finish(b: Array[Long]): (Int, Long) =
    (b.length, if (b.isEmpty) 0L else b(b.length - 1))

  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()

  override def outputEncoder: Encoder[(Int, Long)] =
    Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong)
}

/** The same KMV buffer, finished as the full sorted value array instead
  * of (n_kept, kth) — for estimators that COMPARE sketches (pairwise
  * Jaccard / intersection, q109) rather than read off one cardinality.
  * Same bounded state, same map-side combine, same determinism. */
class KmvValues(k: Int) extends Aggregator[Long, Array[Long], Array[Long]] {
  private val inner = new KmvSketch(k)
  override def zero: Array[Long] = inner.zero
  override def reduce(b: Array[Long], a: Long): Array[Long] = inner.reduce(b, a)
  override def merge(x: Array[Long], y: Array[Long]): Array[Long] = inner.merge(x, y)
  override def finish(b: Array[Long]): Array[Long] = b
  override def bufferEncoder: Encoder[Array[Long]] = inner.bufferEncoder
  override def outputEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
}
