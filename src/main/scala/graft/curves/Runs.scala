package graft.curves

/** A sorted run-length multiset of delays: distinct values strictly
  * ascending, each with its count (> 0) — the one input shape of the ECDF
  * loop ([[Curve.makeCurve]]). A sample list and a count histogram are two
  * spellings of the same multiset, so both convert here and build the same
  * curve. Values compare in `Ordering.Float.TotalOrdering` (the order of
  * `Arrays.sort(float[])`); a run is a stretch of `==`-equal values and
  * keeps its first value. */
final class Runs(val xs: Array[Float], val counts: Array[Long]) {
  val total: Long = java.util.Arrays.stream(counts).sum()
}

object Runs {

  def of(values: Seq[Float]): Runs = {
    val xs = values.toArray
    java.util.Arrays.sort(xs)
    val counts = new Array[Long](xs.length)
    var k = -1
    var i = 0
    while (i < xs.length) {
      if (k < 0 || xs(i) != xs(k)) { k += 1; xs(k) = xs(i) }
      counts(k) += 1
      i += 1
    }
    new Runs(java.util.Arrays.copyOf(xs, k + 1), java.util.Arrays.copyOf(counts, k + 1))
  }

  /** Runs of a count histogram; equal values are merged. */
  def fromCounts(entries: Iterable[(Float, Long)]): Runs = {
    val (xs, counts) = entries.toArray.unzip
    sortedRuns(xs, counts, xs.length)
  }

  /** Sort the first `n` (value, count) entries by value and merge equal
    * values; each entry's index rides in the low half of its sort key. */
  private[curves] def sortedRuns(xs: Array[Float], counts: Array[Long], n: Int): Runs = {
    val keys = new Array[Long](n)
    var i = 0
    while (i < n) { keys(i) = SortKey.signed((SortKey.bits(xs(i)) << 32) | i); i += 1 }
    java.util.Arrays.sort(keys)
    val outX = new Array[Float](n)
    val outC = new Array[Long](n)
    var k = -1
    i = 0
    while (i < n) {
      val u = SortKey.signed(keys(i))
      val x = SortKey.float(u >>> 32)
      if (k < 0 || x != outX(k)) { k += 1; outX(k) = x }
      outC(k) += counts((u & 0xFFFFFFFFL).toInt)
      i += 1
    }
    new Runs(java.util.Arrays.copyOf(outX, k + 1), java.util.Arrays.copyOf(outC, k + 1))
  }
}

/** A run-length multiset of (start delay, end delay) pairs, sorted by
  * (start, end) in the float total order, each distinct pair once with its
  * count (> 0) — the input of [[CurveBuilder.stopPairCurveSet]]. */
final class PairRuns(val starts: Array[Float], val ends: Array[Float], val counts: Array[Long]) {
  val total: Long = java.util.Arrays.stream(counts).sum()
}

object PairRuns {

  private def key(start: Float, end: Float): Long =
    SortKey.signed((SortKey.bits(start) << 32) | SortKey.bits(end))

  /** Sort a pair list as one primitive long sort of its (start, end) keys
    * and count equal pairs. */
  def of(pairs: Seq[(Float, Float)]): PairRuns = {
    val keys = new Array[Long](pairs.length)
    var i = 0
    pairs.foreach { p => keys(i) = key(p._1, p._2); i += 1 }
    java.util.Arrays.sort(keys)
    val counts = new Array[Long](keys.length)
    var k = -1
    i = 0
    while (i < keys.length) {
      if (k < 0 || keys(i) != keys(k)) { k += 1; keys(k) = keys(i) }
      counts(k) += 1
      i += 1
    }
    decode(java.util.Arrays.copyOf(keys, k + 1), java.util.Arrays.copyOf(counts, k + 1))
  }

  /** Runs of a pair count histogram; equal pairs are merged. */
  def fromCounts(entries: Iterable[((Float, Float), Long)]): PairRuns = {
    val merged = scala.collection.mutable.LongMap.empty[Long]
    entries.foreach { case ((s, e), c) =>
      val k = key(s, e)
      merged(k) = merged.getOrElse(k, 0L) + c
    }
    val keys = merged.keys.toArray
    java.util.Arrays.sort(keys)
    decode(keys, keys.map(merged))
  }

  /** The pairs of ascending sort keys, with their counts. */
  private def decode(keys: Array[Long], counts: Array[Long]): PairRuns = {
    val starts = new Array[Float](keys.length)
    val ends = new Array[Float](keys.length)
    var i = 0
    while (i < keys.length) {
      val u = SortKey.signed(keys(i))
      starts(i) = SortKey.float(u >>> 32)
      ends(i) = SortKey.float(u)
      i += 1
    }
    new PairRuns(starts, ends, counts)
  }
}

/** IEEE order-preserving float encoding: sign flip for non-negatives,
  * full complement for negatives. Ascending unsigned order of [[bits]]
  * equals `Ordering.Float.TotalOrdering`; [[signed]] maps unsigned order
  * onto the JDK's signed primitive long sort (it is its own inverse). */
private[curves] object SortKey {
  def bits(f: Float): Long = {
    val b = java.lang.Float.floatToIntBits(f)
    (if (b >= 0) b ^ 0x80000000 else ~b) & 0xFFFFFFFFL
  }
  def float(u: Long): Float = {
    val b = (u & 0xFFFFFFFFL).toInt
    java.lang.Float.intBitsToFloat(if (b < 0) b ^ 0x80000000 else ~b)
  }
  def signed(u: Long): Long = u ^ Long.MinValue
}
