package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The LSH length pre-filter ([[PipelineQueries.lengthAdmits]]) shared by
  * the fuzzy-decontamination, cross-corpus and chain rungs: it may prune
  * only pairs the verify step (`|A∩B| / |A∪B| >= t` in double) rejects,
  * at any token count. */
class LengthPrefilterSpec extends SparkSpec {

  private val thresholds = Seq(0.3, 0.5, 0.6, 0.7, 0.75, 0.8, 0.85, 0.9, 0.95)

  private def admitted(pairs: Seq[(Int, Int)], t: Double): Seq[Boolean] = {
    import spark.implicits._
    pairs.toDF("n1", "n2")
      .select(PipelineQueries.lengthAdmits(col("n1"), col("n2"), t))
      .collect().map(_.getBoolean(0)).toSeq
  }

  test("a pair with min = t * max is kept at n >= 2^24, both argument orders") {
    for (t <- thresholds) {
      val r = BigDecimal(t).bigDecimal.stripTrailingZeros
      val (num, den) = (r.unscaledValue.intValue, BigInt(10).pow(r.scale).toInt)
      val pairs = Seq(1 << 24, 1 << 26, 1 << 30, Int.MaxValue - den).flatMap { n =>
        val k = n / den + 1
        val (lo, hi) = (k * num, k * den)
        Seq((lo, hi), (hi, lo))
      }
      assert(pairs.forall(p => math.max(p._1, p._2) >= (1 << 24)))
      assert(admitted(pairs, t).forall(identity), s"t = $t: $pairs")
    }
  }

  test("never prunes a pair the verify step admits; prunes what it must reject") {
    import spark.implicits._
    val rnd = new scala.util.Random(24)
    for (t <- thresholds) {
      // (min, max, |A∩B| <= min, |A∪B| >= max) around the boundary
      val rows = (1 to 4000).map { _ =>
        val hi = (1 << 24) + rnd.nextInt(Int.MaxValue - (1 << 24) - 64)
        val lo = math.min(hi, math.ceil(t * hi).toInt + rnd.nextInt(5) - 2)
        (lo, hi, lo - rnd.nextInt(2), hi + rnd.nextInt(2))
      }
      val df = rows.toDF("lo", "hi", "inter", "union")
      val verified = col("inter").cast("double") / col("union") >= t
      val admits = PipelineQueries.lengthAdmits(col("hi"), col("lo"), t)
      assert(df.filter(verified && !admits).count() == 0, s"t = $t")
      assert(df.filter(verified).count() > 0 && df.filter(!admits).count() > 0, s"t = $t")
    }
    // one token short of the boundary at 2^30 is pruned
    val k = (1 << 30) / 5
    assert(admitted(Seq((4 * k - 1, 5 * k)), 0.8) == Seq(false))
  }

  test("two empty token sets are left to verification") {
    assert(admitted(Seq((0, 0), (0, 3)), 0.8) == Seq(true, false))
  }
}
