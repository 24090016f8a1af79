package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** q114 per-user OLS trend and q115 join-cost probe: both recomputed
  * driver-side from first principles on the real tables (the oracle
  * checks cross-engine parity; these check the MATH). */
class TrendProbeSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  test("q114 slope/intercept match a driver-side exact-rational OLS") {
    val rows = graft.sources.Tables.events(spark, d)
      .filter(col("value").isNotNull)
      .select(col("user_id"), unix_timestamp(col("ts")) - lit(1704067200L),
        (col("value").cast("decimal(18,3)") * 1000).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = rows.groupBy(_._1).collect {
      case (u, es) if es.length >= 2 =>
        val n = BigInt(es.length)
        val sx = es.map(e => BigInt(e._2)).sum
        val sy = es.map(e => BigInt(e._3)).sum
        val sxy = es.map(e => BigInt(e._2) * BigInt(e._3)).sum
        val sxx = es.map(e => BigInt(e._2) * BigInt(e._2)).sum
        val den = n * sxx - sx * sx
        val slope = (n * sxy - sx * sy).toDouble / den.toDouble
        (u, (es.length.toLong, slope,
          (sy.toDouble - slope * sx.toDouble) / n.toDouble))
    }.toMap
    val got = RelationalQueries.registry("q114_user_trend").build(spark, d)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (u, (n, s, i)) =>
      val (wn, ws, wi) = want(u)
      assert(n == wn && s == ws && i == wi, s"user $u: ($n,$s,$i) vs ($wn,$ws,$wi)")
    }
    // trends discriminate: not all slopes identical (fixture sanity)
    assert(got.values.map(_._2).toSet.size > 1)
  }

  test("q118 anomaly: planted spike flagged, constant baseline excluded, z matches driver") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(h: Int) = new java.sql.Timestamp(base.getTime + h * 3600L * 1000)
    // type A: alternating 2/3 counts for 25 h, then an 80-count spike at
    // hour 25; type B: constant 5 (variance 0 -> must NOT be flagged even
    // though hour 26 deviates)
    val rows = (0 until 25).flatMap(h =>
        Seq.fill(if (h % 2 == 0) 2 else 3)(("A", at(h)))) ++
      Seq.fill(80)(("A", at(25))) ++
      (0 until 26).flatMap(h => Seq.fill(5)(("B", at(h)))) ++
      Seq.fill(50)(("B", at(26)))
    val dir = tempDir("graft-anom").toString
    rows.zipWithIndex
      .map { case ((t, ts), i) => (i.toLong, ts, i.toLong % 7, t, 1.0, "p") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = RelationalQueries.registry("q118_hourly_anomaly").build(spark, dir)
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getDouble(4)))
    assert(got.map(g => (g._1, g._2)).toSet == Set(("A", at(25))),
      s"exactly the type-A spike hour flags: ${got.mkString(",")}")
    // driver recompute of z for the spike hour: trailing 24 hours are
    // hours 1..24 (12 threes at odd h, 12 twos at even h)
    val counts = (1 to 24).map(h => if (h % 2 == 0) 2.0 else 3.0)
    val mean = counts.sum / 24
    val variance = (counts.map(c => c * c).sum - counts.sum * counts.sum / 24) / 24
    val z = (80.0 - mean) / math.sqrt(variance)
    assert(math.abs(got.head._4 - z) < 1e-9)
  }

  test("q119 collocations: planted phrase tops the lift ranking, brute-force match") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    // filler bigrams from a broad vocabulary + a planted rare-but-always-
    // adjacent phrase "zeta qoph" repeated 12 times
    val docs = ((0 until 40).map { i =>
      (i.toLong, "s", (0 until 30).map(_ => s"w${rnd.nextInt(40)}").mkString(" "))
    } ++ (40 until 52).map { i => (i.toLong, "s", "zeta qoph filler" + i) })
      .toDF("doc_id", "source", "text")
    val got = CurationQueries.collocations(docs, minCount = 10L, k = 5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(5)))
    assert(got.head._1 == "zeta" && got.head._2 == "qoph" && got.head._3 == 12L)
    // driver brute force of the full ranking
    val texts = docs.collect().map(_.getString(2))
    val toks = texts.flatMap(_.split(" "))
    val bis = texts.flatMap(t => { val w = t.split(" "); w.zip(w.tail) })
    val nTok = toks.length.toDouble
    val nBi = bis.length.toDouble
    val cu = toks.groupBy(identity).view.mapValues(_.length).toMap
    val want = bis.groupBy(identity).collect {
      case ((a, b), occ) if occ.length >= 10 =>
        val lift = (occ.length / nBi) / ((cu(a) / nTok) * (cu(b) / nTok))
        (a, b, occ.length.toLong, lift)
    }.toSeq.sortBy(t => (-t._4, t._1, t._2)).take(5)
    assert(got.toSeq == want)
  }

  test("collocations survive single-token and empty-text documents") {
    import spark.implicits._
    // the unguarded bigram builder crashed here: sequence(1, 0) is the
    // DESCENDING [1, 0] and element_at(tk, 0) throws (r7f review)
    val docs = (Seq((0L, "s", "single"), (1L, "s", "")) ++
      (2 until 30).map(i => (i.toLong, "s", "zeta qoph common words here")))
      .toDF("doc_id", "source", "text")
    val got = CurationQueries.collocations(docs, minCount = 10L, k = 3)
      .collect().map(r => (r.getString(0), r.getString(1)))
    // all 4 bigrams tie on lift (equal counts); the point is the query
    // neither crashes nor counts phantom bigrams from the short docs
    assert(got.length == 3)
  }

  test("q120 retention cohorts match a driver recompute on the real events") {
    val ev = graft.sources.Tables.events(spark, d)
      .select(col("user_id"), date_trunc("week", col("ts")).as("aw"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1)))
    val cohort = ev.groupBy(_._1).map { case (u, rows) => u -> rows.map(_._2).min }
    val want = ev.map { case (u, aw) =>
      val cw = cohort(u)
      (cw, (aw.getTime - cw.getTime) / (7L * 86400 * 1000), u)
    }.distinct.groupBy(t => (t._1, t._2)).map { case ((cw, off), us) =>
      (cw, off, us.size.toLong)
    }.toSeq.sortBy(t => (t._1.getTime, t._2))
    val got = RelationalQueries.registry("q120_retention_cohorts").build(spark, d)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want)
    // offset 0 row per cohort exists (every user is active in their own
    // first week by construction)
    assert(got.filter(_._2 == 0L).map(_._3).sum ==
      cohort.keys.size.toLong)
  }

  test("q121 RFM segments match driver-side tercile bucketing, partition the customers") {
    val o = spark.read.parquet(s"$d/orders.parquet")
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("od"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate, r.getLong(2)))
    val ref = o.map(_._2).max
    val per = o.groupBy(_._1).map { case (c, rows) =>
      val r = java.time.temporal.ChronoUnit.DAYS.between(rows.map(_._2).max, ref)
      (c, r, rows.size.toLong, rows.map(_._3).sum)
    }.toSeq
    def terciles(vs: Seq[Long]): (Long, Long) = {
      val s = vs.sorted
      (s(((s.size + 2) / 3 - 1).toInt), s(((2 * s.size + 2) / 3 - 1).toInt))
    }
    val (r1, r2) = terciles(per.map(_._2))
    val (f1, f2) = terciles(per.map(_._3))
    val (m1, m2) = terciles(per.map(_._4))
    def b(v: Long, t1: Long, t2: Long) =
      1 + (if (v > t1) 1 else 0) + (if (v > t2) 1 else 0)
    val want = per.groupBy(p => (b(p._2, r1, r2), b(p._3, f1, f2), b(p._4, m1, m2)))
      .map { case ((rb, fb, mb), cs) => (rb, fb, mb, cs.size.toLong) }
      .toSeq.sortBy(t => (t._1, t._2, t._3))
    val got = RelationalQueries.registry("q121_rfm_segments").build(spark, d)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSeq
    assert(got == want)
    assert(got.map(_._4).sum == per.size.toLong, "buckets partition the customers")
  }

  test("q122 quantile sketch: estimates land near the true quantiles; exact when k >= group") {
    val cents = spark.read.parquet(s"$d/lineitem.parquet")
      .select(col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val byFlag = cents.groupBy(_._1).map { case (f, vs) => f -> vs.map(_._2).sorted }
    val got = RelationalQueries.registry("q122_quantile_sketch").build(spark, d)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    got.foreach { case (f, (m, med, p90)) =>
      val vs = byFlag(f)
      assert(m == math.min(128, vs.size))
      // true CDF position of the estimates: within ±0.12 of the target
      // (k=128 uniform sample; bound is ~5 sigma of sqrt(q(1-q)/k))
      def pos(v: Long) = vs.count(_ <= v).toDouble / vs.size
      assert(math.abs(pos(med) - 0.5) < 0.12, s"$f median pos ${pos(med)}")
      assert(math.abs(pos(p90) - 0.9) < 0.12, s"$f p90 pos ${pos(p90)}")
    }
    // degenerate small group: a synthetic frame below k gives EXACT stats
    import spark.implicits._
    val tiny = (1 to 20).map(i => (100L + i, i, (i * 10).toDouble, "Z"))
      .toDF("l_orderkey", "l_linenumber", "l_extendedprice", "l_returnflag")
    val dir = tempDir("graft-qsk").toString
    tiny.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val z = RelationalQueries.registry("q122_quantile_sketch").build(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).head
    // 20 values 1000..20000 cents: median rank (20+1) div 2 = 10 ->
    // 10000; p90 rank (9*20+9) div 10 = 18 -> 18000
    assert(z == ((20L, 10000L, 18000L)))
  }

  test("q123 count-min: estimates always dominate exact counts, bounded overshoot") {
    val got = RelationalQueries.registry("q123_countmin").build(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    got.foreach { case (t, u, exact, est) =>
      assert(est >= exact, s"CM must never underestimate: $t/$u $est < $exact")
      // sf0.001 events: ~2k rows/type over 512-cell rows -> expected
      // collision mass per cell ~4; min over 4 rows, 64 is >10x slack
      assert(est - exact <= 64, s"overshoot too large: $t/$u $est vs $exact")
    }
  }

  test("float-emitting analytics are bit-stable across independent runs") {
    // the float-discipline contract: every emitted double is a FIXED
    // IEEE chain over order-insensitive exact-integer aggregates, so
    // re-running the same query must reproduce every bit even though
    // partition order varies. Two independent plan builds + collects.
    for (q <- Seq("q114_user_trend", "q116_token_diversity",
        "q118_hourly_anomaly", "q119_collocations", "q121_rfm_segments")) {
      def run() = (RelationalQueries.registry ++ CurationQueries.registry)(q)
        .build(spark, d).collect().map(_.toSeq).toSeq
      assert(run() == run(), s"$q not bit-stable across runs")
    }
  }

  test("q115 posting statistics match brute force and predict q44's co-occurrence volume") {
    val docs = graft.sources.Tables.documents(spark, d)
    val posting = docs.select(col("doc_id"), col("source"),
        explode(array_distinct(split(col("text"), " "))).as("t"))
      .collect().map(r => (r.getString(1), r.getString(2)))
    val want = posting.groupBy(_._1).map { case (src, ps) =>
      val fs = ps.groupBy(_._2).values.map(_.size.toLong)
      src -> (fs.size.toLong, fs.sum, fs.max,
        fs.map(f => f * (f - 1) / 2).sum, fs.count(_ >= 4096L).toLong)
    }
    val got = CurationQueries.registry("q115_join_cost_probe").build(spark, d)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(got == want)
    // pair_rows IS the row count q44's unguarded co-occurrence join
    // emits (id1 < id2, per (source, token)): verify on one source
    val oneSrc = got.keys.min
    val tf = posting.filter(_._1 == oneSrc).groupBy(_._2).values
      .map(_.size.toLong).map(f => f * (f - 1) / 2).sum
    assert(got(oneSrc)._4 == tf)
  }
}
