package graft.operators

import graft.SparkSpec

/** [[CurationQueries.bm25TopK]] (q126): planted retrieval semantics the
  * registry oracle can't see — the synthetic corpus has no ground-truth
  * relevance, so this spec PLANTS it: a document stacking the query's
  * rare terms must outrank one mentioning them once, matching on a rare
  * term must outrank matching on a common one, and the query document
  * never retrieves itself. */
class Bm25Spec extends SparkSpec {

  private def run(rows: Seq[(Long, String)], k: Int = 5) = {
    import spark.implicits._
    val docs = rows.toDF("doc_id", "text")
    CurationQueries.bm25TopK(docs, k = k, queryMod = 29L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
  }

  test("stacked rare query terms rank first; self excluded; ranks contiguous") {
    val filler = "the of and to in"
    val rows = Seq[(Long, String)](
      // query doc 0: rare terms zq1 zq2 among common filler
      (0L, s"zq1 zq2 $filler"),
      // heavy match: both rare terms, repeated
      (10L, s"zq1 zq1 zq2 zq2 zq1 $filler"),
      // light match: one rare term, once
      (11L, s"zq1 $filler"),
      // no rare terms — common-token background corpus
      (12L, s"$filler $filler"),
      (13L, s"$filler the the"),
      (14L, s"$filler of of")
    )
    val out = run(rows)
    val q0 = out.filter(_._1 == 0L)
    assert(q0.nonEmpty, "query 0 must produce results")
    assert(!q0.exists(_._3 == 0L), "the query doc never retrieves itself")
    assert(q0.map(_._2).toSeq == (1L to q0.length), "ranks are contiguous")
    assert(q0.head._3 == 10L, "the stacked rare-term doc ranks first")
    val score = q0.map(r => r._3 -> r._4).toMap
    assert(score(10L) > score(11L),
      "two repeated rare terms outscore one single occurrence")
    // scores are non-increasing down the ranking
    assert(q0.map(_._4).toSeq == q0.map(_._4).toSeq.sortBy(-_))
  }

  test("matching a rare term outranks matching a common one at equal tf") {
    // every doc shares 'common'; doc 21 matches the query's rare term,
    // doc 22 only the common one (df: rare=2 docs, common=all)
    val rows = Seq[(Long, String)](
      (0L, "rare7 common pad1 pad2"),
      (21L, "rare7 common x y"),
      (22L, "common common z w"),
      (23L, "pad1 q r s"),
      (24L, "pad2 t u v")
    )
    val out = run(rows)
    val q0 = out.filter(_._1 == 0L)
    val pos = q0.map(_._3).zipWithIndex.toMap
    assert(pos(21L) < pos(22L),
      "rare-term match must rank above common-term-only match")
  }

  test("persisted index round-trip: parquet-backed scoring equals in-pass") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 15).map(i => s"v$i")
    val corpus = (0L until 80L).map { i =>
      (i, Seq.fill(6 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }.toDF("doc_id", "text")
    // an out-of-corpus query batch; 'unseen1' has no posting anywhere
    val queries = Seq((1000L, "v1 v2 unseen1 v3 v4"),
      (1001L, "v5 unseen2 v6")).toDF("doc_id", "text")

    val live = CurationQueries.buildBm25Index(corpus)
    val dir = tempDir("graft-bm25").toString
    live.tf.write.parquet(s"$dir/tf")
    live.df.write.parquet(s"$dir/df")
    live.totals.write.parquet(s"$dir/totals")
    val persisted = CurationQueries.Bm25Index(
      spark.read.parquet(s"$dir/tf"),
      spark.read.parquet(s"$dir/df"),
      spark.read.parquet(s"$dir/totals"))

    def score(ix: CurationQueries.Bm25Index) =
      CurationQueries.bm25ScoreIndexed(ix,
        CurationQueries.bm25QueryTerms(ix, queries), k = 5)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
    val fromLive = score(live)
    val fromParquet = score(persisted)
    assert(fromLive.nonEmpty, "out-of-corpus queries must still retrieve")
    assert(fromParquet == fromLive,
      "a parquet round-tripped index scores identically — no corpus " +
        "re-aggregation is hidden in the probe path")
  }

  test("dfPruneFactor: stopwords pruned, posting volume cut, surviving signal unchanged") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // OPEN-vocabulary fixture: 'the'/'of' appear in every doc (df = N,
    // the absolute-stopword regime the closed registry corpus can't
    // reach); 40 rare signal terms carry the retrieval signal.
    val rnd = new scala.util.Random(5)
    // 200 signal terms over 60 docs x 4 draws: expected df ~= 1.2, far
    // below the prune cutoff N/10 = 6, so signal always survives
    val rare = (0 until 200).map(i => s"sig$i")
    def sig(k: Int) = Seq.fill(k)(rare(rnd.nextInt(rare.size)))
    val rows = (0L until 60L).map {
      // query doc 0: only TWO signal tokens, so the rarest-4 selection
      // must otherwise reach into the stopwords
      case 0L => (0L, (Seq("the", "of") ++ sig(2)).mkString(" "))
      // query doc 58: ALL stopwords — prune degrades it to no terms
      case 58L => (58L, "the of the of")
      // query doc 29 and the corpus: 4+ signal tokens each
      case i => (i, (Seq("the", "of") ++ sig(4)).mkString(" "))
    }
    val docs = rows.toDF("doc_id", "text")
    val ix = CurationQueries.buildBm25Index(docs)
    val queries = docs.filter(col("doc_id") % 29 === 0)
    val unpruned = CurationQueries.bm25QueryTerms(ix, queries)
    val pruned = CurationQueries.bm25QueryTerms(ix, queries,
      dfPruneFactor = 10)
    assert(unpruned.filter(col("token").isin("the", "of")).count() > 0,
      "fixture must force stopwords into the unpruned term set")
    assert(pruned.filter(col("token").isin("the", "of")).count() == 0,
      "df*10 > N terms never survive the prune")
    // the knob's point: scored-posting volume (tf rows joined by the
    // term set) drops — each pruned stopword term saved N postings
    def volume(q: org.apache.spark.sql.DataFrame) =
      ix.tf.join(q.select("token").distinct(), Seq("token")).count()
    assert(volume(pruned) < volume(unpruned), "posting volume must shrink")
    // where the signal survives the prune (query 29: four rare terms,
    // selection never touched a stopword) the ranking is UNCHANGED
    def top(df: org.apache.spark.sql.DataFrame, q: Long) =
      df.filter(col("query_id") === q).collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val tNo = CurationQueries.bm25ScoreIndexed(ix, unpruned)
    val tPr = CurationQueries.bm25ScoreIndexed(ix, pruned)
    assert(top(tPr, 29L) == top(tNo, 29L) && top(tNo, 29L).nonEmpty,
      "prune must not disturb a query whose terms all survive")
    // the all-stopword query degrades to NO results (defined partial-
    // signal semantics), not an error
    assert(top(tPr, 58L).isEmpty && top(tNo, 58L).nonEmpty)
    // and the scoring-side belt prunes an externally-supplied term set
    // to the same result
    assert(CurationQueries.bm25ScoreIndexed(ix, unpruned, dfPruneFactor = 10)
      .collect().map(_.toSeq).toSeq == tPr.collect().map(_.toSeq).toSeq)
  }

  test("dfPruneFactorFor: posting cap constant at scale, df > N/2 floor below it") {
    import org.apache.spark.sql.functions._
    // the rule: factor = max(2, ceil(N / 4096)) — so the surviving
    // posting-list cap N/factor is ~4096 at ANY large corpus and the
    // small-corpus floor is the df > N/2 stopword rule
    assert(CurationQueries.dfPruneFactorFor(500L) == 2L)
    assert(CurationQueries.dfPruneFactorFor(4096L) == 2L)
    assert(CurationQueries.dfPruneFactorFor(4097L) == 2L)
    assert(CurationQueries.dfPruneFactorFor(1000000L) == 245L)
    val huge = 100000000000L // 10^11 docs
    val f = CurationQueries.dfPruneFactorFor(huge)
    assert(huge / f <= 4096L && (f - 1) * 4096L < huge,
      "f is the minimal factor pinning the cap at the target length")
    // bm25TopK's DerivedPrune sentinel resolves through the rule: on a
    // 60-doc corpus the factor is 2, so df = N stopwords are pruned
    // exactly as an explicit factor-2 call would
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rare = (0 until 200).map(i => s"sig$i")
    val docs = (0L until 60L).map(i => (i,
      (Seq("the", "of") ++ Seq.fill(4)(rare(rnd.nextInt(rare.size))))
        .mkString(" "))).toDF("doc_id", "text")
    val derived = CurationQueries.bm25TopK(docs,
      dfPruneFactor = CurationQueries.DerivedPrune)
      .collect().map(_.toSeq).toSeq
    val explicit = CurationQueries.bm25TopK(docs, dfPruneFactor = 2L)
      .collect().map(_.toSeq).toSeq
    assert(derived == explicit && derived.nonEmpty,
      "DerivedPrune == dfPruneFactorFor(N) made explicit")
  }

  test("deterministic across executions (integer scoring, no float sums)") {
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 12).map(i => s"w$i")
    val rows = (0L until 60L).map { i =>
      (i, Seq.fill(8 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }
    val a = run(rows)
    val b = run(rows)
    assert(a.toSeq == b.toSeq)
    assert(a.nonEmpty)
  }
}
