package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Battery #3: connected components (vs a driver-side union-find ground
  * truth), BM25 scoring math, stratified-sample quotas, chunk coverage. */
class PipelineQueriesSpec extends SparkSpec {

  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0 until n).map(i => i.toLong -> find(i).toLong).toMap
  }

  private def ccOf(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val vertices = spark.range(n).toDF("id")
    val e =
      if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("u", "v")
      else edges.toDF("u", "v")
    ConnectedComponents.components(vertices, e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("connected components match union-find on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 8) {
      val n = 30 + rnd.nextInt(70)
      val nEdges = rnd.nextInt(2 * n)
      val edges = Seq.fill(nEdges)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).filter(e => e._1 != e._2)
      assert(ccOf(n, edges) === unionFind(n, edges), s"trial $trial n=$n")
    }
  }

  test("connected components handle a long path (diameter >> rounds)") {
    // a 60-node chain needs 59 rounds of naive min-propagation;
    // large-star/small-star contracts it in O(log^2)
    val edges = (0L until 59L).map(i => (i, i + 1))
    val got = ccOf(60, edges)
    assert(got.values.toSet === Set(0L), "all chained nodes collapse to 0")
  }

  test("connected components: cliques, singletons, empty edge set") {
    val clique = for (i <- 0 until 5; j <- i + 1 until 5)
      yield (i.toLong + 10, j.toLong + 10)
    val got = ccOf(20, clique)
    assert((10L to 14L).forall(got(_) == 10L))
    assert(((0L to 9L) ++ (15L to 19L)).forall(i => got(i) == i), "singletons stay")
    assert(ccOf(5, Nil) === (0L until 5L).map(i => i -> i).toMap)
  }

  test("q57 canonical flags: exactly one canonical per component") {
    val out = PipelineQueries.registry("q57_dup_components")
      .build(spark, "/root/testdata/sf0.001").cache()
    val n = out.count()
    assert(n > 0)
    val perComp = out.groupBy("component")
      .agg(sum("is_canonical").as("canon"), count(lit(1)).as("sz"),
        min("cluster_size").as("minSz"), max("cluster_size").as("maxSz"))
      .collect()
    perComp.foreach { r =>
      assert(r.getLong(1) === 1L, s"component ${r.get(0)} canonical count")
      assert(r.getLong(2) === r.getLong(3) && r.getLong(2) === r.getLong(4).toLong,
        s"component ${r.get(0)} cluster_size consistent")
    }
    out.unpersist()
  }

  test("q58 BM25 math on a hand corpus") {
    import spark.implicits._
    // 3 docs; query terms appear with known counts
    val docs = Seq(
      (0L, "spark spark merge x y z", "en", "s", 6L),
      (1L, "window a b c d e f g", "en", "s", 8L),
      (2L, "p q r s t u", "en", "s", 6L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempDir("graft-bm25").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = PipelineQueries.registry("q58_bm25").build(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val avgdl = (6 + 8 + 6) / 3.0
    def bm25(tf: Int, df: Int, dl: Int): Double =
      math.log(1 + (3 - df + 0.5) / (df + 0.5)) *
        tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.keySet === Set(0L, 1L))
    assert(out(0L) === r6(bm25(2, 1, 6) + bm25(1, 1, 6)))
    assert(out(1L) === r6(bm25(1, 1, 8)))
  }

  test("q59 quotas: exactly ceil(n*0.25) rows per stratum, deterministic") {
    val d = "/root/testdata/sf0.001"
    val totals = graft.sources.Tables.documents(spark, d)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val q = PipelineQueries.registry("q59_stratified_sample")
    val got = q.build(spark, d).groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    totals.foreach { case (src, n) =>
      assert(got.getOrElse(src, 0L) === math.ceil(n * 0.25).toLong, src)
    }
    // content-addressed: identical sample on re-run
    val a = q.build(spark, d).collect().toSeq
    val b = q.build(spark, d).collect().toSeq
    assert(a === b)
  }

  test("q59/q64 scale shapes match their window formulations (incl. one giant source)") {
    import spark.implicits._
    // the adversarial stratum shape: ONE source holding almost everything
    // (a real training mix is mostly CommonCrawl) — the per-source window
    // serializes it; the hash-threshold / two-phase shapes must not
    val rnd = new scala.util.Random(11)
    val docs = (0L until 3000L).map { i =>
      val src = if (i % 100 == 0) s"small${i % 3}" else "giant"
      val text = Seq.fill(3 + rnd.nextInt(12))(s"t${rnd.nextInt(50)}").mkString(" ")
      (i, text, "en", src, text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    for (shift <- Seq(14, 18, 22, 27)) { // registry defaults … only ~8 buckets
      val sNew = PipelineQueries.stratifiedSample(docs, 0.25, shift)
        .collect().toSeq
      val sOld = PipelineQueries.stratifiedSampleByRank(docs, 0.25)
        .collect().toSeq
      assert(sNew === sOld, s"stratified sample, bucketShift=$shift")
      val mNew = PipelineQueries.tokenBudgetMix(docs, 2000L, shift)
        .collect().toSeq
      val mOld = PipelineQueries.tokenBudgetMixWindow(docs, 2000L)
        .collect().toSeq
      assert(mNew === mOld, s"token budget mix, bucketShift=$shift")
    }
    // rate edges: full corpus and a single row per stratum
    assert(PipelineQueries.stratifiedSample(docs, 1.0).count() === 3000L)
    assert(PipelineQueries.stratifiedSample(docs, 1e-9).collect().toSeq ===
      PipelineQueries.stratifiedSampleByRank(docs, 1e-9).collect().toSeq)
    // the scale property itself: no Window node anywhere in q64's plan
    // (q59 keeps two windows, but both consume bucket-bounded relations —
    // the histogram and the single cutoff bucket — never the corpus)
    val mixPlan = PipelineQueries.tokenBudgetMix(docs, 2000L)
      .queryExecution.optimizedPlan.toString
    assert(!mixPlan.contains("Window"), "q64 shape is window-free")
  }

  test("q61 decontamination flags exactly the docs sharing an 8-gram") {
    import spark.implicits._
    val docs = Seq(
      (0L, "evaluation benchmark holdout text", "en", "src0", 33L),
      (1L, "training doc with the evaluation benchmark inside", "en", "srcX", 49L),
      (2L, "completely unrelated words here", "en", "srcX", 31L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempDir("graft-decon").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = PipelineQueries.registry("q61_decontaminate").build(spark, dir)
      .collect().map(r => r.getLong(0)).toSet
    assert(got === Set(1L), "only the doc containing eval 8-grams is flagged")
  }

  test("q62 repetition: planted repeats score, distinct docs score 0") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b c a b c a b c", "en", "s", 17L), // trigram "a b c" repeats
      (1L, "one two three four five six", "en", "s", 27L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempDir("graft-rep").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = PipelineQueries.registry("q62_repetition").build(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got(0L) > 0.5, "heavy repetition detected")
    assert(got(1L) === 0.0, "all-distinct trigrams")
  }

  test("q64 mixture: kept set is the maximal hash-order prefix per source") {
    val d = "/root/testdata/sf0.001"
    val out = PipelineQueries.registry("q64_token_budget_mix").build(spark, d)
    assert(out.filter(col("cum_tokens") > 500).count() === 0L)
    // recompute the prefix driver-side from the raw table
    val raw = graft.sources.Tables.documents(spark, d)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expected = raw.groupBy(_._2).toSeq.flatMap { case (_, rows) =>
      val ordered = rows.toSeq.sortBy(r =>
        (((r._1 % 1000000007L) * 2654435761L) % 1000000007L, r._1))
      var cum = 0L
      ordered.takeWhile { r => cum += r._3; cum <= 500 }.map(_._1)
    }.toSet
    val got = out.collect().map(_.getLong(0)).toSet
    assert(got === expected)
  }

  test("q72 bigram LM score: hand-computed add-one model on a tiny corpus") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b a b", "en", "s", 7L),
      (1L, "a b", "en", "s", 3L),
      (2L, "c c", "en", "s", 3L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempDir("graft-lm").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = PipelineQueries.registry("q72_bigram_lm_score").build(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // corpus: bigrams ab×3, ba×1, cc×1; unigrams a×3, b×3, c×2; V=3
    def p(c2: Int, c1: Int) = math.log((c2 + 1.0) / (c1 + 3))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(0L)._1 === 3L)
    assert(got(0L)._2 === r6((p(3, 3) + p(1, 3) + p(3, 3)) / 3))
    assert(got(1L) === ((1L, r6(p(3, 3)))))
    assert(got(2L) === ((1L, r6(p(1, 2)))))
  }

  test("q73 PII scrub: planted emails/IPs/digit runs counted and redacted") {
    import spark.implicits._
    val docs = Seq(
      (0L, "contact me at j.doe@example.com or admin@site.org thanks", "en", "s", 1L),
      (1L, "server 10.0.0.1 and 192.168.255.254 plus id 12345678", "en", "s", 1L),
      (2L, "nothing sensitive here just words and 123 456", "en", "s", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempDir("graft-pii").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = PipelineQueries.registry("q73_pii_scrub").build(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got(0L)._1 === 2L, "two emails")
    assert(got(1L) === ((0L, 2L, 1L,
      "server <PII> and <PII> plus id <PII>".length.toLong)))
    assert(got(2L) === ((0L, 0L, 0L,
      "nothing sensitive here just words and 123 456".length.toLong)))
  }

  test("q65 rule filter: keep is exactly reason_mask == 0") {
    val out = PipelineQueries.registry("q65_rule_filter")
      .build(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (mask, keep) = (r.getInt(1), r.getInt(2))
      assert((keep == 1) === (mask == 0))
      assert(mask >= 0 && mask <= 7)
    }
  }

  test("q66 portable MinHash: planted duplicates collide, disjoint texts don't") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def doc(seed: Int): String =
      Seq.fill(40)(s"w${rnd.nextInt(200) + seed * 1000}").mkString(" ")
    val base = doc(0)
    val nearDup = base.split(" ").updated(3, "changed").mkString(" ")
    val docs = (Seq((0L, base), (1L, base), (2L, nearDup)) ++
      (3L until 20L).map(i => (i, doc(i.toInt)))) // disjoint vocabularies
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = DedupQueries.minhashPortable(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((0L, 1L)), "exact dup pair is a candidate")
    assert(got.contains((0L, 2L)) || got.contains((1L, 2L)),
      "near dup collides in at least one band")
    // docs with disjoint token universes share no gram, hence no band key:
    // no candidate pair may TOUCH a disjoint doc (ids 3+) at all — since
    // id1 < id2, checking id2 covers both endpoints
    assert(!got.exists { case (_, b) => b >= 3L },
      s"no candidates touching disjoint docs: $got")
  }

  test("q69 substring overlap: planted shared span found, disjoint docs not") {
    import spark.implicits._
    val span = (0 until 30).map(i => s"shared$i").mkString(" ") // ~250 chars
    val docs = Seq(
      (0L, s"alpha bravo charlie $span delta echo foxtrot", "s"),
      (1L, s"one two three four five six seven $span eight", "s"),
      (2L, (0 until 40).map(i => s"other$i").mkString(" "), "s"))
      .map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempDir("graft-span").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = PipelineQueries.registry("q69_substring_overlap").build(spark, dir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got.keySet === Set((0L, 1L)), s"got $got")
    assert(got((0L, 1L)) >= 1L, "at least one shared 64-char window")
  }

  /** Driver-side reference of [[PipelineQueries.pageRank]]'s integer
    * recurrence: 5 damped rounds of pr' = 150000 + 85·Σ(pr div deg) div
    * 100 over a symmetric edge list. */
  private def refPageRank(nodes: Seq[Long], pairs: Seq[(Long, Long)],
                          iterations: Int = 5): Map[Long, Long] = {
    val sym = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val deg = sym.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    var pr = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to iterations) {
      val in = sym.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => pr(src) / deg(src) }.sum
      }
      pr = nodes.map(n => n -> (150000L + 85L * in.getOrElse(n, 0L) / 100L)).toMap
    }
    pr
  }

  test("pageRank: planted star + pair + isolate match driver iteration") {
    import spark.implicits._
    // Jaccard >= 0.4 picks exactly the STAR (0,1) 4/6, (0,2) 3/7 —
    // (1,2) is 2/8 — plus the pair (3,4) 4/6; doc5 is isolated and must
    // hold the 150000 teleport mass. The star is deliberately
    // NON-regular: a regular graph (triangle, pair) is a fixed point of
    // the recurrence and every rank stays 10⁶ — no discrimination.
    val d = Seq(
      (0L, "a b c d e", "s"),
      (1L, "a b c d x", "s"),
      (2L, "c d e f g", "s"),
      (3L, "p q r s t", "s"),
      (4L, "p q r s u", "s"),
      (5L, "m n o k l", "s")
    ).toDF("doc_id", "text", "source")
    val got = PipelineQueries.pageRank(d)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = refPageRank(0L to 5L,
      Seq((0L, 1L), (0L, 2L), (3L, 4L)))
    assert(got == want)
    assert(got(5L) == 150000L, "isolated node holds the teleport mass")
    // the star hub receives both leaves' full mass each round — it must
    // out-rank the regular pair's members (pinned at 10⁶)
    assert(got(0L) > got(3L) && got(1L) < got(3L))
  }

  test("pageRank on the real table matches driver iteration over the Spark edge set") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val pairs = DedupQueries.tokenPrefixJoin(docs, threshold = 0.4, sorted = false)
      .select(col("id1"), col("id2")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val nodes = docs.select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    val got = PipelineQueries.pageRank(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == refPageRank(nodes, pairs))
  }

  private def bruteTriangles(pairs: Seq[(Long, Long)]): (Long, Long, Long) = {
    // n_wedges = Σ C(deg,2) over UNDIRECTED degrees (the graph's wedge
    // count — transitivity denominator); n_wedge_checks = Σ C(outdeg,2)
    // under the π-orientation (the closing join's candidate volume)
    val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val deg = adj.map { case (k, v) => k -> v.size }
    val wedges = deg.values.map(d => d.toLong * (d - 1) / 2).sum
    def pi(x: Long) = (deg(x), x)
    import scala.math.Ordering.Implicits._
    val out = pairs.map { case (a, b) => if (pi(a) < pi(b)) (a, b) else (b, a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val checks = out.values.map(vs => vs.size.toLong * (vs.size - 1) / 2).sum
    val edgeSet = pairs.map { case (a, b) => if (a < b) (a, b) else (b, a) }.toSet
    val tris = out.values.flatMap { vs =>
      for (i <- vs.indices; j <- vs.indices if i < j) yield {
        val (x, y) = (vs(i), vs(j))
        if (edgeSet.contains(if (x < y) (x, y) else (y, x))) 1L else 0L
      }
    }.sum
    (wedges, checks, tris)
  }

  test("triangle census: planted clique + path + isolate match brute force") {
    import spark.implicits._
    // src s: docs 0-2 a near-identical triad (triangle), 3-4 a pair
    // (edge, no triangle), 5 isolated; src t: a 4-clique 6-9 with
    // C(4,3)=4 triangles
    def doc(words: Seq[String]) = words.mkString(" ")
    val base = Seq("a", "b", "c", "d", "e", "f", "g", "h")
    val d = Seq(
      (0L, doc(base), "s"),
      (1L, doc(base.updated(0, "x1")), "s"),
      (2L, doc(base.updated(1, "x2")), "s"),
      (3L, doc(Seq("p", "q", "r", "s", "t", "u", "v", "w")), "s"),
      (4L, doc(Seq("p", "q", "r", "s", "t", "u", "v", "z")), "s"),
      (5L, doc(Seq("k1", "k2", "k3", "k4", "k5", "k6", "k7", "k8")), "s"),
      (6L, doc(base.map(_ + "t")), "t"),
      (7L, doc(base.map(_ + "t").updated(0, "y1")), "t"),
      (8L, doc(base.map(_ + "t").updated(1, "y2")), "t"),
      (9L, doc(base.map(_ + "t").updated(2, "y3")), "t")
    ).toDF("doc_id", "text", "source")
    val pairs = DedupQueries.tokenPrefixJoin(d, threshold = 0.5, sorted = false)
      .select(col("id1"), col("id2")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // sanity on the fixture: the triad and the 4-clique must be complete
    assert(pairs.toSet.contains((0L, 1L)) && pairs.toSet.contains((6L, 9L)))
    val got = PipelineQueries.triangleCensus(d, threshold = 0.5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    val bySrc = Seq("s", "t").map { src =>
      val sp = pairs.filter { case (a, b) =>
        val ids = if (src == "s") (0L to 5L).toSet else (6L to 9L).toSet
        ids.contains(a) && ids.contains(b)
      }
      val (w, c, t) = bruteTriangles(sp)
      (src, sp.size.toLong, w, c, t)
    }
    assert(got == bySrc)
    val t = got.find(_._1 == "t").get
    assert(t._5 == 4L, "4-clique has C(4,3)=4 triangles")
    // 4-clique: 12 graph wedges (Σ C(3,2) over 4 nodes), but the
    // orientation examines only Σ C(outdeg,2) = C(3,2)+C(2,2)+C(1,2) = 4
    assert(t._3 == 12L && t._4 == 4L, "orientation saves 2/3 of the wedge checks")
  }

  test("triangle census on the real table matches brute force") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val pairs = DedupQueries.tokenPrefixJoin(docs, threshold = 0.5, sorted = false)
      .select(col("id1"), col("id2")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val srcOf = docs.select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = pairs.groupBy(p => srcOf(p._1)).map { case (src, sp) =>
      val (w, c, t) = bruteTriangles(sp)
      (src, sp.size.toLong, w, c, t)
    }.toSeq.sortBy(_._1)
    val got = PipelineQueries.triangleCensus(docs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == want)
  }

  test("bloom decontamination equals the exact q61 path and keeps the prefilter in-plan") {
    val d = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, d)
    val bloomed = PipelineQueries.bloomDecontaminate(docs)
    // the native prefilter must survive optimization into the executed plan
    assert(bloomed.queryExecution.executedPlan.toString.contains("might_contain"),
      "BloomFilterMightContain missing from the executed plan")
    val exact = PipelineQueries.registry("q61_decontaminate").build(spark, d)
    val got = bloomed.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = exact.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want, "bloom path must be bit-identical to the exact join")
  }

  test("q125 cluster stats match union-find + driver rollup on the real table") {
    val d = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, d)
    // CROSS-SOURCE edges at the report's 0.8 threshold — the same
    // single-block derivation the operator uses
    val pairs = DedupQueries.tokenPrefixJoin(
        docs.select(col("doc_id"), lit("all").as("source"), col("text")),
        threshold = 0.8, heavyListThreshold = 512, sorted = false)
      .select(col("id1"), col("id2")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val meta = docs.select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val nodes = meta.map(_._1).sorted
    val idx = nodes.zipWithIndex.toMap
    val uf = unionFind(nodes.size, pairs.map { case (a, b) =>
      (idx(a).toLong, idx(b).toLong)
    })
    val comp = nodes.map(n => n -> nodes(uf(idx(n).toLong).toInt)).toMap
    val want = meta.groupBy(m => comp(m._1)).collect {
      case (c, ms) if ms.length >= 2 =>
        (c, ms.length.toLong, ms.map(_._2).distinct.length.toLong,
          ms.map(_._3).min, ms.map(_._3).max, ms.map(_._3).sum)
    }.toSeq.sortBy(_._1)
    val got = PipelineQueries.dupClusterStats(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == want)
    assert(got.nonEmpty, "the testdata plants real near-dup clusters")
    // the column the report exists for: at least one cluster SPANS
    // sources (a within-source edge set would pin every row to 1 —
    // the r7f review defect this derivation fixed)
    assert(got.exists(_._3 > 1L), "no cross-source cluster found")
  }

  test("q128 LSH cluster stats: chain-edge derivation matches union-find and refines q125") {
    val d = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, d)
    // driver-side re-derivation: TOKEN-banded signatures -> per-bucket
    // chain candidates (consecutive members by doc_id) -> exact
    // token-Jaccard verification -> union-find -> rollup
    val banded = DedupQueries.minhashBandedTokens(
        docs.select(col("doc_id"), col("text")),
        PipelineQueries.LshBands, PipelineQueries.LshRows)
      .collect()
      .map(r => ((r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5)), r.getLong(0)))
    val toks = docs.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSet).toMap
    val chainCands = banded.groupBy(_._1).values.flatMap { rows =>
      val ms = rows.map(_._2).distinct.sorted.toSeq
      for {
        h <- 1 to PipelineQueries.ChainHops
        i <- 0 until math.max(ms.length - h, 0)
      } yield (ms(i), ms(i + h))
    }.toSeq.distinct
    val verified = chainCands.filter { case (a, b) =>
      val (ta, tb) = (toks(a), toks(b))
      ta.intersect(tb).size.toDouble / ta.union(tb).size >= 0.8
    }
    val meta = docs.select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val nodes = meta.map(_._1).sorted
    val idx = nodes.zipWithIndex.toMap
    val uf = unionFind(nodes.size, verified.map { case (a, b) =>
      (idx(a).toLong, idx(b).toLong)
    })
    val comp = nodes.map(n => n -> nodes(uf(idx(n).toLong).toInt)).toMap
    val want = meta.groupBy(m => comp(m._1)).collect {
      case (c, ms) if ms.length >= 2 =>
        (c, ms.length.toLong, ms.map(_._2).distinct.length.toLong,
          ms.map(_._3).min, ms.map(_._3).max, ms.map(_._3).sum)
    }.toSeq.sortBy(_._1)
    val got = PipelineQueries.lshClusterStats(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == want)
    assert(got.nonEmpty, "the testdata's near-dup clusters must collide in LSH")
    // refinement contract: every verified chain edge is an exact-Jaccard
    // edge, so each q128 cluster must sit INSIDE one exact q125 cluster
    val exactPairs = DedupQueries.tokenPrefixJoin(
        docs.select(col("doc_id"), lit("all").as("source"), col("text")),
        threshold = 0.8, heavyListThreshold = 512, sorted = false)
      .select(col("id1"), col("id2")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val ufE = unionFind(nodes.size, exactPairs.map { case (a, b) =>
      (idx(a).toLong, idx(b).toLong)
    })
    val compE = nodes.map(n => n -> nodes(ufE(idx(n).toLong).toInt)).toMap
    nodes.groupBy(comp).values.foreach { members =>
      assert(members.map(compE).distinct.size == 1,
        "an LSH cluster crossed two exact clusters")
    }
  }

  test("canonicalByRank picks each cluster's top-PageRank member on the real table") {
    val d = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, d)
    val pairs = DedupQueries.tokenPrefixJoin(docs, threshold = 0.4, sorted = false)
      .select(col("id1"), col("id2")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val nodes = docs.select(col("doc_id")).collect().map(_.getLong(0)).toSeq.sorted
    val idx = nodes.zipWithIndex.toMap
    val uf = unionFind(nodes.size, pairs.map { case (a, b) =>
      (idx(a).toLong, idx(b).toLong)
    })
    val comp = nodes.map(n => n -> nodes(uf(idx(n).toLong).toInt)).toMap
    val pr = refPageRank(nodes, pairs)
    val want = nodes.groupBy(comp).map { case (c, members) =>
      val keep = members.maxBy(m => (pr(m), -m))
      (c, members.size.toLong, keep, pr(keep))
    }.toSeq.sortBy(_._1)
    val got = PipelineQueries.canonicalByRank(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == want)
  }

  test("q60 chunks: stride coverage reconstructs every document") {
    val d = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, d)
    val chunks = PipelineQueries.registry("q60_doc_chunks").build(spark, d)
    // taking the first 24 tokens of each chunk (its non-overlapped stride)
    // and concatenating in chunk order must reproduce the document text
    val rebuilt = chunks
      .select(col("doc_id"), col("chunk_id"),
        concat_ws(" ", slice(split(col("chunk_text"), " "), 1, 24)).as("stride"))
      .groupBy("doc_id")
      .agg(array_join(array_sort(collect_list(struct(col("chunk_id"), col("stride"))))
        .getField("stride"), " ").as("recon"))
    val bad = rebuilt.join(docs, Seq("doc_id"))
      .filter(col("recon") =!= col("text")).count()
    assert(bad === 0L)
    // every full chunk has 32 tokens; the last may be shorter
    val overLong = chunks.filter(col("n_chunk_tokens") > 32).count()
    assert(overLong === 0L)
  }

  /** Brute (train doc, eval doc) → token-Jaccard at ≥ `t`, driver-side
    * from the real table — the yardstick of the q133/q134 tests. */
  private def bruteFuzzyMatches(d: String, t: Double): Map[(Long, Long), Double] = {
    val toks = graft.sources.Tables.documents(spark, d)
      .select(col("doc_id"), col("source"),
        array_distinct(split(col("text"), " ")).as("tk"))
    val ev = toks.filter(col("source") === "src0")
      .select(col("doc_id").as("eval_id"), col("tk").as("et"))
    toks.filter(col("source") =!= "src0").crossJoin(ev)
      .withColumn("jac",
        size(array_intersect(col("tk"), col("et"))).cast("double")
          / size(array_union(col("tk"), col("et"))))
      .filter(col("jac") >= t)
      .select(col("doc_id"), col("eval_id"), col("jac"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
  }

  test("q133 fuzzy decontamination: verified subset of the brute yardstick, best match exact") {
    val d = "/root/testdata/sf0.001"
    val brute = bruteFuzzyMatches(d, 0.8)
    val byDoc = brute.keySet.groupBy(_._1)
    val out = PipelineQueries.registry("q133_fuzzy_decontaminate")
      .build(spark, d).collect()
    assert(out.nonEmpty, "the corpus plants cross-source eval near-dups")
    out.foreach { r =>
      val (id, n, bid, bjac) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      // every flagged doc and its reported match are REAL ≥ t pairs
      // (LSH generates, the exact verify decides — no false positives)
      assert(byDoc.contains(id), s"doc $id flagged but not contaminated")
      assert(brute.contains((id, bid)), s"($id, $bid) not a true match")
      assert(bjac == brute((id, bid)), s"reported jac differs for ($id, $bid)")
      assert(bjac >= 0.8)
      // the rung can only find brute matches, never invent them
      assert(n <= byDoc(id).size.toLong)
      assert(bjac <= byDoc(id).map(brute).max)
    }
  }

  test("q134 certificate columns agree with independently derived arms") {
    val d = "/root/testdata/sf0.001"
    val exactDocs = bruteFuzzyMatches(d, 0.8).keySet.map(_._1)
    val lshDocs = PipelineQueries.registry("q133_fuzzy_decontaminate")
      .build(spark, d).collect().map(_.getLong(0)).toSet
    assert(lshDocs.subsetOf(exactDocs), "verified flags refine the exact set")
    val meta = graft.sources.Tables.documents(spark, d)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("nt"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val expected = exactDocs.groupBy(id => meta(id)._1).map { case (src, ids) =>
      val flagged = ids.filter(lshDocs)
      val (te, tl) = (ids.toSeq.map(meta(_)._2).sum,
        flagged.toSeq.map(meta(_)._2).sum)
      src -> (ids.size.toLong, flagged.size.toLong, te, tl,
        flagged.size.toDouble / ids.size, tl.toDouble / te)
    }
    val got = PipelineQueries.registry("q134_fuzzy_decon_recall")
      .build(spark, d).collect()
    assert(got.map(_.getString(0)).toSet === expected.keySet)
    got.foreach { r =>
      val e = expected(r.getString(0))
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5), r.getDouble(6)) === e, s"source ${r.getString(0)}")
    }
  }

  test("q136 contamination report composes exactly the three registered arms") {
    val d = "/root/testdata/sf0.001"
    def ids(q: String, c: Int = 0) = PipelineQueries.registry
      .getOrElse(q, AnnQueries.registry(q)).build(spark, d)
      .collect().map(_.getLong(c)).toSet
    val ex = ids("q111_bloom_decontaminate")
    val fz = ids("q133_fuzzy_decontaminate")
    val sem = ids("q135_embed_decontaminate")
    val meta = graft.sources.Tables.documents(spark, d)
      .filter(col("source") =!= "src0").select("doc_id", "source")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val expected = meta.groupBy(_._2).map { case (src, ds) =>
      val dd = ds.map(_._1)
      src -> (dd.length.toLong, dd.count(ex).toLong, dd.count(fz).toLong,
        dd.count(sem).toLong,
        dd.count(i => ex(i) || fz(i) || sem(i)).toLong)
    }
    val got = PipelineQueries.registry("q136_contamination_report")
      .build(spark, d).collect()
    assert(got.map(_.getString(0)).toSet === expected.keySet)
    got.foreach { r =>
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5)) === expected(r.getString(0)), s"source ${r.getString(0)}")
    }
    // the layers genuinely differ on this corpus — the report's point
    assert(got.map(_.getLong(3)).sum < got.map(_.getLong(2)).sum)
  }

  test("r12 shared banding pass: source slices equal per-slice direct banding") {
    // the r12 rewiring of q133/q137/q128 reads SLICES of one shared
    // corpus banding relation; per-doc signatures are row-independent,
    // so each slice must be bit-identical to banding that slice
    // directly (the pre-r12 shape)
    val d = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, d)
    val shared = DedupQueries.minhashBandedTokensShared(docs,
      PipelineQueries.LshBands, PipelineQueries.LshRows)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[List[Any]] =
      df.collect().map(_.toSeq.toList).toSeq.sortBy(_.mkString("|"))
    for ((name, pred) <- Seq[(String, org.apache.spark.sql.Column)](
        ("train", col("source") =!= "src0"),
        ("eval", col("source") === "src0"),
        ("old", length(col("source")) <= 4 && col("source") =!= "src0"),
        ("new", length(col("source")) > 4))) {
      val direct = DedupQueries.minhashBandedTokens(
        docs.filter(pred).select(col("doc_id"), col("text")),
        PipelineQueries.LshBands, PipelineQueries.LshRows)
      assert(canon(shared.filter(pred).drop("source", "n")) === canon(direct),
        s"slice '$name' diverges from direct banding")
    }
    // the carried `n` must be the VERIFIER's distinct-token count —
    // the exactness of every length pre-filter depends on it
    val nOk = shared.select(col("doc_id"), col("n")).distinct()
      .join(docs.select(col("doc_id"),
        size(array_distinct(split(col("text"), " "))).as("vn")), Seq("doc_id"))
      .filter(col("n") =!= col("vn")).count()
    assert(nOk === 0L, "banded n diverges from the verifier token count")
    SharedRelations.clear()
  }

  test("q137 cross-corpus scrub: brute-subset exactness; salted path result-identical") {
    val d = "/root/testdata/sf0.001"
    val toks = graft.sources.Tables.documents(spark, d)
      .select(col("doc_id"), col("source"),
        array_distinct(split(col("text"), " ")).as("tk"))
    val old = toks.filter(length(col("source")) <= 4 &&
        col("source") =!= "src0")
      .select(col("doc_id").as("old_id"), col("tk").as("ot"))
    val brute = toks.filter(length(col("source")) > 4).crossJoin(old)
      .withColumn("jac",
        size(array_intersect(col("tk"), col("ot"))).cast("double")
          / size(array_union(col("tk"), col("ot"))))
      .filter(col("jac") >= 0.8)
      .select(col("doc_id"), col("old_id"), col("jac"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val byDoc = brute.keySet.groupBy(_._1)
    val out = PipelineQueries.registry("q137_cross_corpus_neardup")
      .build(spark, d).collect()
    assert(out.nonEmpty, "the corpus plants cross-source near-dups")
    out.foreach { r =>
      val (id, n, bid, bjac) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(byDoc.contains(id) && brute.contains((id, bid)))
      assert(bjac == brute((id, bid)) && bjac >= 0.8)
      assert(n <= byDoc(id).size.toLong)
    }
    // forcing EVERY bucket through the salted path changes nothing —
    // salting is a physical repartition, never a result change
    val docs = graft.sources.Tables.documents(spark, d)
    val salted = PipelineQueries.crossCorpusNearDups(docs,
      heavyBucketThreshold = 1).collect().map(_.toSeq.toList).toSeq
    assert(salted == out.map(_.toSeq.toList).toSeq)
  }
}
