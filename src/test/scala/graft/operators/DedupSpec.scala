package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions.{col, expr, explode, size, split}

/** Planted-duplicate verification for the hash-based near-dup detectors
  * (q30 MinHash-LSH, q31 SimHash) that have no DuckDB oracle. */
class DedupSpec extends SparkSpec {

  private lazy val docs = {
    import spark.implicits._
    val rand0 = new scala.util.Random(11)
    val baseWords = (0 until 200).map(_ => s"tok${rand0.nextInt(300)}")
    val base = baseWords.mkString(" ")
    val nearDup = baseWords.updated(17, "changed").mkString(" ") // one token differs
    val nearDup2 = (baseWords ++ Seq("extra", "tail")).mkString(" ")
    val other = "completely different content about trains schedules delays and probability curves for transit prediction systems everywhere"
    val rand = new scala.util.Random(7)
    val noise = (0 until 50).map { i =>
      val words = (0 until 30).map(_ => s"w${rand.nextInt(500)}")
      (100L + i, words.mkString(" "))
    }
    (Seq((1L, base), (2L, nearDup), (3L, nearDup2), (4L, other)) ++ noise)
      .toDF("doc_id", "text")
  }

  test("minhash-LSH surfaces planted near-duplicates, not unrelated docs") {
    val cand = DedupQueries.minhashCandidates(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((1L, 2L)) || cand.contains((1L, 3L)),
      s"expected a planted pair among candidates, got $cand")
    // the unrelated doc 4 must not pair with 1..3
    assert(!cand.exists { case (a, b) => (a <= 3L) && b == 4L })
  }

  test("salted LSH: pathological corpus yields the identical candidate set") {
    import spark.implicits._
    // degenerate corpus: half the documents are identical -> they share
    // every band's bucket, funneling ~50% of banded rows into 4 keys
    val rand = new scala.util.Random(3)
    val dupText = (0 until 50).map(_ => s"dup${rand.nextInt(40)}").mkString(" ")
    val uniques = (0 until 30).map { i =>
      (1000L + i, (0 until 30).map(_ => s"u${i}_${rand.nextInt(400)}").mkString(" "))
    }
    val corpus = ((0 until 30).map(i => (i.toLong, dupText)) ++ uniques)
      .toDF("doc_id", "text")
    // threshold 5 forces the duplicate buckets onto the salted path
    val salted = DedupQueries.minhashCandidates(corpus, heavyBucketThreshold = 5, salt = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = DedupQueries.minhashCandidates(corpus, heavyBucketThreshold = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(salted == plain, "salting must not change the candidate set")
    // all 30 identical docs pair with each other: 435 pairs at minimum
    assert(plain.count { case (a, b) => a < 30 && b < 30 } == 30 * 29 / 2)
    // the deterministic scatter actually splits the heavy bucket: the 30
    // duplicate doc ids land in more than one salt partition, so no task
    // sees the whole bucket on the probe side
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val distinctSalts = corpus.filter(col("doc_id") < 30)
      .select(pmod(xxhash64(col("doc_id")), lit(4)).as("s"))
      .distinct().count()
    assert(distinctSalts > 1)
  }

  test("q44 inverted-index Jaccard carries no broadcast hint on the per-doc side") {
    // the sizes table is one row per DOCUMENT — a broadcast hint on it is a
    // scale bug (VERDICT r1); AQE may still choose a broadcast at small
    // scale, but the plan must not force one. (The broadcast of the
    // dimension-sized heavy-token flag set sits upstream of the checkpoint
    // barrier, so everything visible in this analyzed plan — the sizes
    // joins — must be hint-free.)
    val q44 = DedupQueries.registry("q44_jaccard_inverted")
      .build(spark, "/root/testdata/sf0.001")
    assert(!q44.queryExecution.analyzed.toString.contains("ResolvedHint"))
  }

  test("q44 heavy-token guard: salted path == unguarded join, hot-token corpus") {
    import spark.implicits._
    // half the corpus draws from a 20-token vocabulary (every token's
    // posting list far exceeds the guard threshold), half from a ~1500-token
    // one (all light); every 5th doc duplicates its predecessor so
    // qualifying pairs exist in both regimes
    val rand = new scala.util.Random(7)
    val rows = (0 until 80).map { i =>
      val vocab = if (i % 2 == 0) 20 else 1500
      (i.toLong, s"src${i % 2}",
        (0 until 12).map(_ => s"w${rand.nextInt(vocab)}").mkString(" "))
    }
    val corpus = rows.map { case (id, src, t) =>
      if (id % 5 == 4) (id, src, rows(id.toInt - 1)._3) else (id, src, t)
    }.toDF("doc_id", "source", "text")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))).toSet
    val guarded = key(DedupQueries.invertedJaccardJoin(corpus,
      heavyTokenThreshold = 5, salt = 4))
    val plain = key(DedupQueries.invertedJaccardJoin(corpus,
      heavyTokenThreshold = Int.MaxValue))
    assert(guarded == plain, "guard must not change the result")
    assert(plain.nonEmpty)
    // the guard actually fires: the small vocabulary's posting lists are
    // all ≥ 5 docs
    val hot = corpus.select(explode(split(col("text"), " ")).as("t"))
      .groupBy("t").count().filter(col("count") >= 5).count()
    assert(hot > 10)
  }

  test("q112 weighted Jaccard matches brute force and distinguishes multiplicity") {
    import spark.implicits._
    // docs 0/1: same token SET, different multiplicities — set Jaccard
    // is 1.0, weighted must be strictly lower; docs 2/3 exact dups
    val corpus = Seq(
      (0L, "s", "a a a a b"),
      (1L, "s", "a b b b b"),
      (2L, "s", "x y z w q"),
      (3L, "s", "x y z w q"),
      (4L, "s", "k l m n o")
    ).toDF("doc_id", "source", "text")
    val got = DedupQueries.weightedJaccardJoin(corpus, threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // brute: 0 vs 1 — min(4,1)+min(1,4)=2, max-sum = 5+5-2 = 8 -> 0.25
    assert(math.abs(got((0L, 1L)) - 0.25) < 1e-12)
    assert(got((2L, 3L)) == 1.0, "exact dup scores 1")
    assert(!got.contains((0L, 4L)) && !got.contains((2L, 4L)))
    // driver brute force over every pair at the registry threshold
    val rows = corpus.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2).split(" ").toSeq))
    val want = (for {
      (i, si, ti) <- rows; (j, sj, tj) <- rows
      if si == sj && i < j
    } yield {
      val ci = ti.groupBy(identity).view.mapValues(_.size)
      val cj = tj.groupBy(identity).view.mapValues(_.size)
      val minSum = (ci.keySet ++ cj.keySet).toSeq
        .map(t => math.min(ci.getOrElse(t, 0), cj.getOrElse(t, 0))).sum
      ((i, j), minSum.toDouble / (ti.size + tj.size - minSum))
    }).filter(_._2 >= 0.2).toMap
    assert(got == want)
  }

  test("q117 containment: planted excerpt scores 1.0 toward its superset, brute-force match") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "s", "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "s", "beta gamma delta epsilon"),           // strict subset of 0
      (2L, "s", "alpha alpha beta"),                    // multiset: needs tf-aware min
      (3L, "s", "iota kappa lambda mu")                 // disjoint
    ).toDF("doc_id", "source", "text")
    val got = DedupQueries.containmentJoin(corpus, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got((1L, 0L)) == 1.0, "excerpt fully contained in superset")
    assert(got((0L, 1L)) == 0.5, "reverse direction is 4/8")
    // doc 2 vs 0: min over {alpha: min(2,1)=1, beta: min(1,1)=1} = 2; |2| = 3
    assert(math.abs(got((2L, 0L)) - 2.0 / 3) < 1e-12)
    assert(!got.keys.exists { case (a, b) => a == 3L || b == 3L })
    // brute force over all ordered pairs at the threshold
    val rows = corpus.collect().map(r =>
      (r.getLong(0), r.getString(2).split(" ").toSeq))
    val want = (for {
      (i, ti) <- rows; (j, tj) <- rows if i != j
    } yield {
      val ci = ti.groupBy(identity).view.mapValues(_.size)
      val cj = tj.groupBy(identity).view.mapValues(_.size)
      val minSum = ci.keys.toSeq
        .map(t => math.min(ci(t), cj.getOrElse(t, 0))).sum
      ((i, j), minSum.toDouble / ti.size)
    }).filter { case (_, c) => c >= 0.5 && c > 0 }.toMap
    assert(got == want)
  }

  test("q124 top-similar: per-doc ranking matches brute force, both directions emitted") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "s", "a b c d e f g h"),
      (1L, "s", "a b c d e f g x"),   // very close to 0
      (2L, "s", "a b c d p q r s"),   // mid similarity to 0/1
      (3L, "s", "a b z z z z z z"),   // weak
      (4L, "s", "k l m n o u v w")    // disjoint
    ).toDF("doc_id", "source", "text")
    val got = DedupQueries.topSimilarPerDoc(corpus, k = 2, minScaled = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // driver brute force of the integer-scaled weighted jaccard ranking
    val rows = corpus.collect().map(r => (r.getLong(0), r.getString(2).split(" ").toSeq))
    def ws(a: Seq[String], b: Seq[String]): Long = {
      val ca = a.groupBy(identity).view.mapValues(_.size)
      val cb = b.groupBy(identity).view.mapValues(_.size)
      val minSum = (ca.keySet ++ cb.keySet).toSeq
        .map(t => math.min(ca.getOrElse(t, 0), cb.getOrElse(t, 0))).sum
      minSum.toLong * 1000000000L / (a.size + b.size - minSum)
    }
    val want = rows.flatMap { case (i, ti) =>
      rows.filter(_._1 != i)
        .map { case (j, tj) => (j, ws(ti, tj)) }
        .filter(_._2 >= 1L)
        .sortBy { case (j, w) => (-w, j) }.take(2).zipWithIndex
        .map { case ((j, w), p) => (i, (p + 1).toLong, j, w) }
    }.sortBy(t => (t._1, t._2))
    assert(got.toSeq == want.toSeq)
    // doc 4 shares nothing: absent from the relation entirely
    assert(!got.exists(_._1 == 4L))
  }

  test("q112 heavy-token guard: salted path == unguarded join on a hot-token corpus") {
    import spark.implicits._
    val rand = new scala.util.Random(11)
    // hot vocabulary of 15 tokens with REPEATED draws (multiset weights
    // exercised under the guard), plus every 4th doc duplicating its
    // predecessor so qualifying pairs exist
    val rows = (0 until 60).map { i =>
      (i.toLong, "s", (0 until 10).map(_ => s"w${rand.nextInt(15)}").mkString(" "))
    }
    val corpus = rows.map { case (id, src, t) =>
      if (id % 4 == 3) (id, src, rows(id.toInt - 1)._3) else (id, src, t)
    }.toDF("doc_id", "source", "text")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))).toSet
    val guarded = key(DedupQueries.weightedJaccardJoin(corpus,
      heavyTokenThreshold = 5, salt = 4))
    val plain = key(DedupQueries.weightedJaccardJoin(corpus,
      heavyTokenThreshold = Int.MaxValue))
    assert(guarded == plain, "guard must not change the result")
    assert(plain.nonEmpty)
  }

  test("prefix-filtered char-shingle join == all-pairs join on a real table") {
    // exactness of the prefix filter: candidates generated from each doc's
    // rarest shingles + length filter must reproduce the all-pairs result
    // EXACTLY (same pairs, same jaccard values)
    val d = graft.sources.Tables.documents(spark, "/root/testdata/sf0.01")
    val allPairs = DedupQueries.charShingleAllPairs(d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val prefix = DedupQueries.charShinglePrefixJoin(d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(prefix == allPairs,
      s"prefix-filter diverged: only-prefix=${prefix -- allPairs}, only-allpairs=${allPairs -- prefix}")
    assert(allPairs.nonEmpty) // sf0.01 has a qualifying pair (CORRECTNESS r2)
    // a lowered threshold (longer prefixes, ~139 qualifying pairs at
    // sf0.01) exercises the filter well beyond the single 0.5 pair
    val all02 = DedupQueries.charShingleAllPairs(d, 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pre02 = DedupQueries.charShinglePrefixJoin(d, 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pre02 == all02 && all02.size > 100,
      s"0.2 diverged: only-prefix=${pre02 -- all02}, only-allpairs=${all02 -- pre02}")
  }

  test("token prefix join == inverted-index join == all-pairs formulations") {
    val d = "/root/testdata/sf0.001"
    def key(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9))).toSet
    // all three formulations at the same t=0.4 (q29/q44's threshold)
    val allPairs = key(DedupQueries.registry("q29_jaccard_pairs").build(spark, d))
    assert(key(DedupQueries.registry("q44_jaccard_inverted").build(spark, d)) == allPairs)
    assert(key(DedupQueries.tokenPrefixJoin(
      graft.sources.Tables.documents(spark, d), threshold = 0.4)) == allPairs)
    assert(allPairs.nonEmpty)
  }

  test("prefix join == all-pairs on random corpora incl. degenerate docs") {
    import spark.implicits._
    // seeded random corpora with adversarial edges: empty docs, 1-2 char
    // docs, exact duplicates, tiny alphabet (forces shingle ties and
    // rounding-free jaccard edge values)
    val rand = new scala.util.Random(19)
    def corpus(n: Int): org.apache.spark.sql.DataFrame = {
      val alphabet = "abc d"
      val rows = (0 until n).map { i =>
        val len = rand.nextInt(60)
        val text =
          if (i % 11 == 0) "" // empty
          else if (i % 7 == 0) "ab" // shorter than a shingle
          else (0 until len).map(_ => alphabet(rand.nextInt(alphabet.length))).mkString
        (i.toLong, s"src${i % 2}", text)
      }
      // every 5th doc duplicates its predecessor exactly
      rows.map { case (id, src, t) =>
        if (id % 5 == 4) (id, src, rows((id - 1).toInt)._3) else (id, src, t)
      }.toDF("doc_id", "source", "text")
    }
    for (t <- Seq(0.5, 0.3); c <- Seq(corpus(40))) {
      val all = DedupQueries.charShingleAllPairs(c, t)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 1e9))).toSet
      val pre = DedupQueries.charShinglePrefixJoin(c, t)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 1e9))).toSet
      assert(pre == all, s"t=$t: only-prefix=${pre -- all}, only-all=${all -- pre}")
      assert(all.nonEmpty) // the planted exact duplicates always qualify
    }
  }

  test("prefix join keeps pairs at EXACTLY the threshold (float-boundary regression)") {
    import spark.implicits._
    // A ⊂ B with |A|=12, |B|=30: jac = 12/30 = 0.4 == t exactly. The
    // r6 positional filter originally dropped this pair because
    // ceil(0.4·42/1.4) evaluates to ceil(12.000000000000002) = 13 in
    // doubles; all prune predicates now run epsilon-slack.
    val shared = (0 until 12).map(i => s"s$i")
    val extra = (0 until 18).map(i => s"x$i")
    val docs = Seq(
      (0L, shared.mkString(" "), "src"),
      (1L, (shared ++ extra).mkString(" "), "src"),
      (2L, (0 until 20).map(i => s"z$i").mkString(" "), "src")
    ).toDF("doc_id", "text", "source")
    val got = DedupQueries.tokenPrefixJoin(docs, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === Set((0L, 1L, 0.4)), s"got $got")
  }

  test("heavy posting lists route through the salted path with identical output") {
    import spark.implicits._
    // THE corpus that once walled a single core: digit-heavy text
    // with 3-char shingles — the distinct-shingle universe is tiny, every
    // shingle is hot, every posting list is block-sized. The guard must
    // route those lists through the salted scatter join and still produce
    // exactly the unguarded generator's pairs.
    val rnd = new scala.util.Random(23)
    val docs = (0L until 400L).map { i =>
      // 30-digit strings over {0..9}: 1000 possible 3-shingles, 200 docs
      // per source block -> most lists hold a large share of the block;
      // every 5th doc empty (shorter-than-shingle edge case)
      val text = if (i % 5 == 4) ""
                 else (0 until 30).map(_ => rnd.nextInt(10)).mkString
      (i, text, s"src${i % 2}")
    }.toDF("doc_id", "text", "source")
    def key(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9))).toSet
    val arrays = docs.select(col("doc_id"), col("source"),
      expr("array_distinct(transform(sequence(1, greatest(length(text)-2,1), 1), i -> substr(text, i, 3)))").as("sh"))
    // threshold low enough that prefixes keep most shingles (worst case)
    val guarded = key(DedupQueries.prefixSimilarityJoin(arrays, 0.5,
      heavyListThreshold = 8, salt = 4))
    val unguarded = key(DedupQueries.prefixSimilarityJoin(arrays, 0.5,
      heavyListThreshold = Int.MaxValue))
    assert(guarded === unguarded,
      s"only-guarded=${(guarded -- unguarded).take(5)}, only-unguarded=${(unguarded -- guarded).take(5)}")
    assert(guarded.nonEmpty, "degenerate corpus must produce similar pairs")
    // the guard genuinely fired: with threshold 8 on a 400-doc two-block
    // digit corpus, hot lists exist
    val prefixes = {
      val d2 = arrays.withColumn("n", size(col("sh")))
      d2.select(col("source"), explode(col("sh")).as("s")).groupBy("source", "s")
        .count().filter(col("count") >= 8).count()
    }
    assert(prefixes > 0, "corpus failed to produce hot shingles (test setup)")
  }

  test("portable simhash: exact dups at hamming 0, near dups collide, disjoint don't pair") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    // long docs: simhash bit votes have sigma ~ sqrt(#grams), so the
    // single-token edit must stay small relative to the gram population
    // for a 16-bit band to survive untouched
    def doc(seed: Int): String =
      Seq.fill(400)(s"w${rnd.nextInt(200) + seed * 1000}").mkString(" ")
    val base = doc(0)
    // a one-character edit touches <= 3 sampled grams out of ~400: votes
    // shift by <= 6 against sigma ~ 20, so bands survive with margin
    val nearDup = base.updated(30, 'z')
    val docs = (Seq((0L, base), (1L, base), (2L, nearDup)) ++
      (3L until 20L).map(i => (i, doc(i.toInt))))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = DedupQueries.simhashPortable(docs)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(got.get((0L, 1L)) === Some(0), "exact dup pair at hamming 0")
    assert(got.contains((0L, 2L)) || got.contains((1L, 2L)),
      "near dup shares a band and passes the hamming cut")
    assert(!got.keySet.exists { case (_, b) => b >= 3L },
      s"no candidates touching disjoint-vocabulary docs: $got")
  }

  test("simhash surfaces planted near-duplicates with small hamming distance") {
    val cand = DedupQueries.simhashCandidates(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val planted = cand.filter(c => c._1 <= 3 && c._2 <= 3)
    assert(planted.nonEmpty, s"expected planted pairs, got ${cand.toSeq}")
    assert(planted.forall(_._3 <= 16))
    assert(!cand.exists(c => c._1 <= 3 && c._2 == 4L))
  }
}
