package graft.streaming

import graft.SparkSpec
import graft.operators.DedupQueries
import org.apache.spark.sql.functions._

/** [[DocStream.prefixIndexSink]] / [[DocStream.loadStreamedPrefixIndex]]
  * — streaming maintenance of the incremental-dedup
  * [[DedupQueries.PrefixIndex]] (r8 verdict task #4): each micro-batch
  * probes the maintained index, folds only its ACCEPTED documents in,
  * and the result must be indistinguishable — on the q80 attribution —
  * from a fresh offline build over base ∪ accepted. Also pinned:
  * duplicates of STREAM-accepted docs (not just base docs) are caught
  * in later batches, a replayed batch leaves the store unchanged, and
  * the on-disk accepted set equals a driver-side recompute. */
class PrefixStreamSpec extends SparkSpec {

  private val T = 0.5

  private def toksOf(text: String) = text.split(" ").toSet
  private def jac(a: Set[String], b: Set[String]): Double =
    a.intersect(b).size.toDouble / a.union(b).size

  /** Driver-side truth: sequentially accept each batch doc with no
    * Jaccard >= T match in (base ∪ previously accepted). */
  private def acceptedTruth(base: Seq[(Long, String)],
                            batches: Seq[Seq[(Long, String)]])
  : Set[Long] = {
    var corpus = base.map(d => toksOf(d._2))
    val out = Set.newBuilder[Long]
    batches.foreach { b =>
      val keep = b.filterNot(d => corpus.exists(x => jac(toksOf(d._2), x) >= T))
      out ++= keep.map(_._1)
      corpus = corpus ++ keep.map(d => toksOf(d._2))
    }
    out.result()
  }

  private def probePairs(idx: DedupQueries.PrefixIndex,
                         probe: org.apache.spark.sql.DataFrame) =
    DedupQueries.prefixProbeJoin(idx, DedupQueries.tokenArrays(probe), T)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e6))).sorted.toSeq

  test("maintained index == fresh union build on the q80 attribution; replay idempotent") {
    import spark.implicits._
    def doc(id: Long, tokens: Seq[String]) = (id, tokens.mkString(" "))
    def cluster(tag: String) = (0 until 8).map(j => s"$tag$j")
    // base: 10 three-doc clusters with per-doc noise
    val base = (0L until 30L).map(i =>
      doc(i, cluster(s"b${i / 3}_") :+ s"n$i"))
    // batch 0: near-dups of base clusters (reject) + fresh vocabulary
    // (accept)
    val b0 = (0 until 5).map(i =>
      doc(100L + i, cluster(s"b${i}_") :+ s"m$i")) ++
      (5 until 10).map(i => doc(100L + i, cluster(s"f${i}_") :+ s"m$i"))
    // batch 1: near-dups of batch 0's FRESH docs (reject — proves the
    // deltas participate, with their unseen-at-base elements) + a base
    // near-dup (reject) + fresh (accept)
    val b1 = Seq(
      doc(200L, cluster("f5_") :+ "p0"),
      doc(201L, cluster("f6_") :+ "p1"),
      doc(202L, cluster("b7_") :+ "p2"),
      doc(203L, cluster("g0_") :+ "p3"),
      doc(204L, cluster("g1_") :+ "p4"))
    val batches = Seq(b0, b1)
    val want = acceptedTruth(base, batches)
    assert(want == Set(105L, 106L, 107L, 108L, 109L, 203L, 204L),
      "fixture sanity: fresh docs accepted, near-dups rejected")

    val path = tempDir("graft-prefix-stream")
      .resolve("ix").toString
    DocStream.initPrefixIndexStore(base.toDF("doc_id", "text"), path, T)
    val sink = DocStream.prefixIndexSink(path, T)
    batches.zipWithIndex.foreach { case (b, i) =>
      sink(b.toDF("doc_id", "text"), i.toLong)
    }

    // the on-disk accepted set equals the sequential driver truth
    val maintained = DocStream.loadStreamedPrefixIndex(spark, path)
    val storedIds = maintained.arrays.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(storedIds == base.map(_._1).toSet ++ want)

    // q80 attribution parity: probing the maintained index equals
    // probing a FRESH offline build over base ∪ accepted — both exact,
    // despite the maintained entries ranking under the frozen base
    // element order
    val unionDocs = (base ++ batches.flatten.filter(d => want(d._1)))
      .toDF("doc_id", "text")
    val fresh = DedupQueries.buildPrefixIndex(
      DedupQueries.tokenArrays(unionDocs), T)
    val probe = (Seq(
      doc(900L, cluster("f5_") :+ "q0"),   // matches a batch-0 accept
      doc(901L, cluster("g1_") :+ "q1"),   // matches a batch-1 accept
      doc(902L, cluster("b2_") :+ "q2"),   // matches base
      doc(903L, cluster("z0_") :+ "q3")))  // matches nothing
      .toDF("doc_id", "text")
    val got = probePairs(maintained, probe)
    assert(got == probePairs(fresh, probe), "maintained == fresh union build")
    assert(got.map(_._2).toSet == Set(900L, 901L, 902L),
      "probe must hit base, batch-0 and batch-1 content")

    // at-least-once replay: re-running batch 1 with its batch_id must
    // leave the store unchanged (the replaying batch's own deltas are
    // excluded from its probe, so its docs don't reject themselves)
    sink(b1.toDF("doc_id", "text"), 1L)
    val replayed = DocStream.loadStreamedPrefixIndex(spark, path)
    assert(replayed.arrays.select("doc_id").collect()
      .map(_.getLong(0)).toSet == storedIds)
    assert(probePairs(replayed, probe) == got, "replay changes nothing")

    // a batch where EVERYTHING is a duplicate folds an empty delta —
    // the store must stay loadable and unchanged (empty partitions may
    // commit with no data file; the loader skips them)
    sink(Seq(doc(300L, cluster("b1_") :+ "q9"),
      doc(301L, cluster("g0_") :+ "q8")).toDF("doc_id", "text"), 2L)
    val afterEmpty = DocStream.loadStreamedPrefixIndex(spark, path)
    assert(afterEmpty.arrays.select("doc_id").collect()
      .map(_.getLong(0)).toSet == storedIds,
      "an all-duplicates batch adds nothing")
    assert(probePairs(afterEmpty, probe) == got)

    // ── compaction: rebuild the base from base ∪ deltas (re-frozen
    // element order), retire the delta partitions ──
    DocStream.compactPrefixIndexStore(spark, path, T)
    val compacted = DocStream.loadStreamedPrefixIndex(spark, path)
    assert(compacted.arrays.select("doc_id").collect()
      .map(_.getLong(0)).toSet == storedIds, "compaction loses nothing")
    assert(probePairs(compacted, probe) == got,
      "attribution unchanged across the re-frozen order")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/entries/batch_id=0")),
      "folded delta partitions are retired")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/basev=0")),
      "the superseded base is retired")
    // replay AFTER compaction: the base already contains the batch's
    // accepted docs, so every doc self-rejects — no watermark needed
    sink(b1.toDF("doc_id", "text"), 1L)
    val replayedPost = DocStream.loadStreamedPrefixIndex(spark, path)
    assert(replayedPost.arrays.select("doc_id").collect()
      .map(_.getLong(0)).toSet == storedIds,
      "post-compaction replay folds an empty delta")
    assert(probePairs(replayedPost, probe) == got)
    // and a genuinely new batch keeps folding on top of the new base
    sink(Seq(doc(400L, cluster("h0_") :+ "r0")).toDF("doc_id", "text"), 3L)
    val after3 = DocStream.loadStreamedPrefixIndex(spark, path)
    assert(after3.arrays.select("doc_id").collect()
      .map(_.getLong(0)).toSet == storedIds + 400L)
    val probe2 = Seq(doc(910L, cluster("h0_") :+ "r1")).toDF("doc_id", "text")
    assert(probePairs(after3, probe2).map(_._1) == Seq(400L),
      "post-compaction accepts keep participating in the probe")
  }

  test("bloom screen: screened == unscreened accepted sets, bloom survives " +
       "replay and is invalidated by compaction") {
    import spark.implicits._
    def doc(id: Long, tokens: Seq[String]) = (id, tokens.mkString(" "))
    def cluster(tag: String) = (0 until 8).map(j => s"$tag$j")
    val base = (0L until 30L).map(i =>
      doc(i, cluster(s"b${i / 3}_") :+ s"n$i"))
    // batch 0: all-novel vocabulary (the screen's short-circuit case —
    // zero survivors, everything accepted with NO index scan)
    val b0 = (0 until 6).map(i => doc(100L + i, cluster(s"f${i}_") :+ s"m$i"))
    // batch 1: base near-dups (must survive the screen and be
    // REJECTED), near-dups of batch-0 ACCEPTS (proves the bloom folds
    // per-batch deltas in — their elements were unseen at base build),
    // partially-overlapping non-dups (screen survivors the exact
    // verify must still ACCEPT), and more novel docs
    val b1 = Seq(
      doc(200L, cluster("b2_") :+ "p0"),
      doc(201L, cluster("f3_") :+ "p1"),
      doc(202L, cluster("b4_").take(3) ++ cluster("x0_") :+ "p2"),
      doc(203L, cluster("y0_") :+ "p3"))
    val batches = Seq(b0, b1)
    val want = acceptedTruth(base, batches)
    assert(want == Set(100L, 101L, 102L, 103L, 104L, 105L, 202L, 203L),
      "fixture sanity")

    val tmp = tempDir("graft-prefix-bloom")
    val pOn = tmp.resolve("on").toString
    val pOff = tmp.resolve("off").toString
    Seq(pOn, pOff).foreach(p =>
      DocStream.initPrefixIndexStore(base.toDF("doc_id", "text"), p, T))
    val sinkOn = DocStream.prefixIndexSink(pOn, T)
    val sinkOff = DocStream.prefixIndexSink(pOff, T, bloomScreen = false)
    batches.zipWithIndex.foreach { case (b, i) =>
      sinkOn(b.toDF("doc_id", "text"), i.toLong)
      sinkOff(b.toDF("doc_id", "text"), i.toLong)
    }
    def stored(p: String) = DocStream.loadStreamedPrefixIndex(spark, p)
      .arrays.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(stored(pOn) == stored(pOff),
      "the screen must not change the accepted set (lossless by the " +
        "prefix-filter theorem: bloom false negatives are impossible)")
    assert(stored(pOn) == base.map(_._1).toSet ++ want)
    // attribution parity between the two stores on a mixed probe
    val probe = (Seq(doc(900L, cluster("f3_") :+ "q0"),
      doc(901L, cluster("y0_") :+ "q1"),
      doc(902L, cluster("zz_") :+ "q2"))).toDF("doc_id", "text")
    assert(probePairs(DocStream.loadStreamedPrefixIndex(spark, pOn), probe)
      == probePairs(DocStream.loadStreamedPrefixIndex(spark, pOff), probe))

    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val bloomPath = new org.apache.hadoop.fs.Path(
      s"$pOn/${DocStream.ElementBloomFile}")
    assert(fs.exists(bloomPath), "the element bloom is persisted")

    // replay with the screen on: unchanged store (the bloom's extra
    // idempotent puts are harmless)
    sinkOn(b1.toDF("doc_id", "text"), 1L)
    assert(stored(pOn) == base.map(_._1).toSet ++ want, "replay unchanged")

    // compaction re-freezes the element order → the stale bloom is no
    // longer a guaranteed superset: it is deleted before the base flip
    // and re-derived from the NEW base off the batch path
    val mtimeBefore = fs.getFileStatus(bloomPath).getModificationTime
    Thread.sleep(1100) // local-fs mtime granularity is one second
    DocStream.compactPrefixIndexStore(spark, pOn, T)
    assert(fs.exists(bloomPath) &&
      fs.getFileStatus(bloomPath).getModificationTime != mtimeBefore,
      "compaction replaces the stale bloom with one from the new base")
    // and the screened store still rejects/accepts exactly like the
    // unscreened one on post-compaction batches
    val b2 = Seq(doc(300L, cluster("f1_") :+ "r0"),  // dup of a b0 accept
      doc(301L, cluster("w0_") :+ "r1"))             // novel
    sinkOn(b2.toDF("doc_id", "text"), 2L)
    sinkOff(b2.toDF("doc_id", "text"), 2L)
    assert(stored(pOn) == stored(pOff), "post-compaction parity")
    assert(stored(pOn).contains(301L) && !stored(pOn).contains(300L))
  }

  test("autoCompactEvery re-freezes the base mid-stream with no manual call") {
    import spark.implicits._
    def doc(id: Long, tokens: Seq[String]) = (id, tokens.mkString(" "))
    def cluster(tag: String) = (0 until 8).map(j => s"$tag$j")
    val base = (0L until 30L).map(i =>
      doc(i, cluster(s"b${i / 3}_") :+ s"n$i"))
    // b0/b1 as in the maintenance test; b2 re-submits near-dups of b0/b1
    // ACCEPTS (they must reject against the AUTO-rebuilt base) plus
    // fresh vocabulary; b3 is fresh
    val b0 = (0 until 5).map(i =>
      doc(100L + i, cluster(s"b${i}_") :+ s"m$i")) ++
      (5 until 10).map(i => doc(100L + i, cluster(s"f${i}_") :+ s"m$i"))
    val b1 = Seq(
      doc(200L, cluster("f5_") :+ "p0"),
      doc(203L, cluster("g0_") :+ "p3"),
      doc(204L, cluster("g1_") :+ "p4"))
    val b2 = Seq(
      doc(300L, cluster("g0_") :+ "r0"), // near-dup of the b1 accept
      doc(301L, cluster("f7_") :+ "r1"), // near-dup of a b0 accept
      doc(302L, cluster("h0_") :+ "r2")) // fresh
    val b3 = Seq(doc(400L, cluster("i0_") :+ "s0"))
    val batches = Seq(b0, b1, b2, b3)
    val want = acceptedTruth(base, batches)
    assert(want == Set(105L, 106L, 107L, 108L, 109L, 203L, 204L, 302L, 400L),
      "fixture sanity")

    val path = tempDir("graft-prefix-auto")
      .resolve("ix").toString
    DocStream.initPrefixIndexStore(base.toDF("doc_id", "text"), path, T)
    val sink = DocStream.prefixIndexSink(path, T, autoCompactEvery = 2)
    batches.zipWithIndex.foreach { case (b, i) =>
      sink(b.toDF("doc_id", "text"), i.toLong)
    }
    // the cadence fired twice (after batches 1 and 3) — two base
    // rebuilds, no manual compactPrefixIndexStore call, no delta dirs
    assert(DocStream.readLongMarker(spark, path, "_base_version")
      .contains(2L), "two auto-triggered re-freezes")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    assert((0 until 4).forall(b => !fs.exists(
      new org.apache.hadoop.fs.Path(s"$path/arrays/batch_id=$b"))),
      "all deltas folded and retired by the cadence")
    // correctness across the auto-triggered re-freezes
    val maintained = DocStream.loadStreamedPrefixIndex(spark, path)
    assert(maintained.arrays.select("doc_id").collect()
      .map(_.getLong(0)).toSet == base.map(_._1).toSet ++ want)
    val unionDocs = (base ++ batches.flatten.filter(d => want(d._1)))
      .toDF("doc_id", "text")
    val fresh = DedupQueries.buildPrefixIndex(
      DedupQueries.tokenArrays(unionDocs), T)
    val probe = (Seq(
      doc(900L, cluster("h0_") :+ "q0"),   // matches the b2 accept
      doc(901L, cluster("i0_") :+ "q1"),   // matches the b3 accept
      doc(902L, cluster("b2_") :+ "q2")))  // matches base
      .toDF("doc_id", "text")
    assert(probePairs(maintained, probe) == probePairs(fresh, probe),
      "maintained-with-auto-compaction == fresh union build")
  }

  test("a compaction crash before delta retirement never double-counts documents") {
    import spark.implicits._
    def doc(id: Long, tokens: Seq[String]) = (id, tokens.mkString(" "))
    def cluster(tag: String) = (0 until 8).map(j => s"$tag$j")
    val base = (0L until 12L).map(i => doc(i, cluster(s"b${i / 3}_") :+ s"n$i"))
    val b0 = (0 until 4).map(i => doc(100L + i, cluster(s"f${i}_") :+ s"m$i"))
    val root = tempDir("graft-prefix-crash")
    val path = root.resolve("ix").toString
    DocStream.initPrefixIndexStore(base.toDF("doc_id", "text"), path, T)
    val sink = DocStream.prefixIndexSink(path, T)
    sink(b0.toDF("doc_id", "text"), 0L)
    val want = DocStream.loadStreamedPrefixIndex(spark, path)
      .arrays.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(want == base.map(_._1).toSet ++ b0.map(_._1))
    // stash the delta partitions, compact, then restore them — the
    // exact on-disk state a crash between the _base_version flip and
    // delta retirement leaves (new base AND already-folded deltas)
    val stash = root.resolve("stash")
    Seq("entries", "freqd", "arrays").foreach { s =>
      copyTree(java.nio.file.Paths.get(path, s), stash.resolve(s))
    }
    DocStream.compactPrefixIndexStore(spark, path, T)
    Seq("entries", "freqd", "arrays").foreach { s =>
      copyTree(stash.resolve(s), java.nio.file.Paths.get(path, s))
    }
    // the loader must IGNORE deltas the base already absorbed — a
    // double-counted doc would appear twice in arrays (and corrupt the
    // one-row-per-doc prefix ranks on the next rebuild)
    val loaded = DocStream.loadStreamedPrefixIndex(spark, path)
    val ids = loaded.arrays.select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(ids.sorted == want.toSeq.sorted,
      "stale deltas below the base watermark are invisible")
    // the probe against a batch-0 accept still attributes exactly once
    val probe = Seq(doc(900L, cluster("f1_") :+ "q0")).toDF("doc_id", "text")
    assert(probePairs(loaded, probe).map(_._2) == Seq(900L))
    // re-running compaction finishes the crashed retirement without a
    // rebuild (nothing NEW above the watermark) and keeps the base
    DocStream.compactPrefixIndexStore(spark, path, T)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/entries/batch_id=0")),
      "the stale deltas are retired on the next compaction")
    val after = DocStream.loadStreamedPrefixIndex(spark, path)
    assert(after.arrays.select("doc_id").collect()
      .map(_.getLong(0)).toSet == want)
    // and a new batch folds on top as usual
    sink(Seq(doc(200L, cluster("g0_") :+ "p0")).toDF("doc_id", "text"), 1L)
    assert(DocStream.loadStreamedPrefixIndex(spark, path)
      .arrays.select("doc_id").collect().map(_.getLong(0)).toSet ==
      want + 200L)
  }

  test("the sink runs as a real foreachBatch stream (engine batch ids, checkpointed)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    def doc(id: Long, tokens: Seq[String]) = (id, tokens.mkString(" "))
    def cluster(tag: String) = (0 until 8).map(j => s"$tag$j")
    val base = (0L until 12L).map(i => doc(i, cluster(s"b${i / 3}_") :+ s"n$i"))
    // one accept + one base near-dup per batch: the engine-driven fold
    // must both admit and reject, exactly like the direct-call specs
    val b0 = Seq(doc(100L, cluster("f0_") :+ "m0"),
      doc(101L, cluster("b1_") :+ "m1"))
    val b1 = Seq(doc(200L, cluster("g0_") :+ "p0"),
      doc(201L, cluster("f0_") :+ "p1")) // near-dup of b0's ACCEPT
    val dir = tempDir("graft-prefix-realstream")
    val path = dir.resolve("ix").toString
    DocStream.initPrefixIndexStore(base.toDF("doc_id", "text"), path, T)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = input.toDS().toDF("doc_id", "text").writeStream
      .foreachBatch(DocStream.prefixIndexSink(path, T))
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .start()
    try {
      Seq(b0, b1).foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    val got = DocStream.loadStreamedPrefixIndex(spark, path)
      .arrays.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == acceptedTruth(base, Seq(b0, b1)) ++ base.map(_._1),
      "engine-driven batches fold exactly like direct sink calls")
  }

  test("a sink crash before the arrays commit point cannot be compacted past") {
    import spark.implicits._
    def doc(id: Long, tokens: Seq[String]) = (id, tokens.mkString(" "))
    def cluster(tag: String) = (0 until 8).map(j => s"$tag$j")
    val base = (0L until 12L).map(i => doc(i, cluster(s"b${i / 3}_") :+ s"n$i"))
    val b0 = (0 until 3).map(i => doc(100L + i, cluster(s"f${i}_") :+ s"m$i"))
    val b1 = (0 until 3).map(i => doc(200L + i, cluster(s"g${i}_") :+ s"p$i"))
    val root = tempDir("graft-prefix-sinkcrash")
    val path = root.resolve("ix").toString
    DocStream.initPrefixIndexStore(base.toDF("doc_id", "text"), path, T)
    val sink = DocStream.prefixIndexSink(path, T)
    sink(b0.toDF("doc_id", "text"), 0L)
    // batch 1's sink "crashes" between the freqd and arrays writes: run
    // it fully, then remove its commit-point partition — the exact disk
    // state of a death mid-batch (entries/freqd committed, arrays not)
    sink(b1.toDF("doc_id", "text"), 1L)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/arrays/batch_id=1"), true)
    // restart-time compaction runs BEFORE the stream replays batch 1.
    // The watermark must key off the commit point (arrays): advancing
    // it to 1 would make the replay's deltas invisible forever — batch
    // 1's accepted docs lost, their future near-dups wrongly accepted.
    DocStream.compactPrefixIndexStore(spark, path, T)
    sink(b1.toDF("doc_id", "text"), 1L) // the replay
    val loaded = DocStream.loadStreamedPrefixIndex(spark, path)
    val ids = loaded.arrays.select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(ids.sorted == (base.map(_._1) ++ b0.map(_._1) ++ b1.map(_._1)).sorted,
      "the replayed batch's docs are in the index exactly once")
    // and they guard the corpus: a near-dup of a batch-1 doc attributes
    val probe = Seq(doc(900L, cluster("g1_") :+ "q0")).toDF("doc_id", "text")
    assert(probePairs(loaded, probe).map(_._1) == Seq(201L),
      "a replayed-batch doc rejects its later near-duplicate")
    // the next compaction folds the replay and retires its deltas
    DocStream.compactPrefixIndexStore(spark, path, T)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/entries/batch_id=1")))
    assert(DocStream.loadStreamedPrefixIndex(spark, path)
      .arrays.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted ==
      ids.sorted)
  }

  test("a PARTIAL commit-point partition (data, no _SUCCESS) is not folded as complete") {
    import spark.implicits._
    def doc(id: Long, tokens: Seq[String]) = (id, tokens.mkString(" "))
    def cluster(tag: String) = (0 until 8).map(j => s"$tag$j")
    val base = (0L until 12L).map(i => doc(i, cluster(s"b${i / 3}_") :+ s"n$i"))
    val b0 = (0 until 3).map(i => doc(100L + i, cluster(s"f${i}_") :+ s"m$i"))
    val b1 = (0 until 3).map(i => doc(200L + i, cluster(s"g${i}_") :+ s"p$i"))
    val root = tempDir("graft-prefix-partial")
    val path = root.resolve("ix").toString
    DocStream.initPrefixIndexStore(base.toDF("doc_id", "text"), path, T)
    val sink = DocStream.prefixIndexSink(path, T)
    sink(b0.toDF("doc_id", "text"), 0L)
    sink(b1.toDF("doc_id", "text"), 1L)
    // batch 1's writer "died mid-job-commit": part files landed at the
    // destination but _SUCCESS never did — a data-bearing partition
    // that is NOT commit evidence
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val succ = new org.apache.hadoop.fs.Path(
      s"$path/arrays/batch_id=1/_SUCCESS")
    assert(fs.exists(succ), "fixture sanity: the committer wrote _SUCCESS")
    fs.delete(succ, false)
    // compaction must treat batch 1 as uncommitted: watermark stays
    // below it, its docs are NOT baked into the base, and the replay
    // then folds them exactly once
    DocStream.compactPrefixIndexStore(spark, path, T)
    sink(b1.toDF("doc_id", "text"), 1L) // the replay
    val ids = DocStream.loadStreamedPrefixIndex(spark, path)
      .arrays.select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(ids.sorted ==
      (base.map(_._1) ++ b0.map(_._1) ++ b1.map(_._1)).sorted,
      "partial-commit batch lands exactly once after replay")
  }

  test("a crashed REPLAY that regressed entries under stale arrays markers is not compacted past") {
    // double-crash: attempt 1 of batch 1 commits all three deltas but
    // the streaming checkpoint never does; the replay's entries
    // overwrite deletes the old partition then crashes — entries
    // absent while freqd/arrays still carry attempt 1's _SUCCESS.
    // Batch-level evidence reads the batch uncommitted, so the
    // watermark stays below it and the second replay repairs.
    import spark.implicits._
    def doc(id: Long, tokens: Seq[String]) = (id, tokens.mkString(" "))
    def cluster(tag: String) = (0 until 8).map(j => s"$tag$j")
    val base = (0L until 12L).map(i => doc(i, cluster(s"b${i / 3}_") :+ s"n$i"))
    val b0 = (0 until 3).map(i => doc(100L + i, cluster(s"f${i}_") :+ s"m$i"))
    val b1 = (0 until 3).map(i => doc(200L + i, cluster(s"g${i}_") :+ s"p$i"))
    val root = tempDir("graft-prefix-regress")
    val path = root.resolve("ix").toString
    DocStream.initPrefixIndexStore(base.toDF("doc_id", "text"), path, T)
    val sink = DocStream.prefixIndexSink(path, T)
    sink(b0.toDF("doc_id", "text"), 0L)
    sink(b1.toDF("doc_id", "text"), 1L) // attempt 1: fully committed
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/entries/batch_id=1"), true)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$path/arrays/batch_id=1/_SUCCESS")), "fixture: stale arrays marker")
    DocStream.compactPrefixIndexStore(spark, path, T)
    sink(b1.toDF("doc_id", "text"), 1L) // the repairing replay
    val loaded = DocStream.loadStreamedPrefixIndex(spark, path)
    val ids = loaded.arrays.select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(ids.sorted ==
      (base.map(_._1) ++ b0.map(_._1) ++ b1.map(_._1)).sorted,
      "regressed batch lands exactly once after the repairing replay")
    // batch-1 docs still guard the corpus: a near-dup attributes to 201
    val probe = Seq(doc(900L, cluster("g1_") :+ "q0")).toDF("doc_id", "text")
    assert(probePairs(loaded, probe).map(_._1) == Seq(201L))
  }

  test("compaction refuses to retire a marker-less multi-batch history") {
    // a store whose sinks ran with marksuccessfuljobs=false has data
    // everywhere and _SUCCESS nowhere — after the config is fixed,
    // compaction must REFUSE rather than read checkpoint-acknowledged
    // batches as crash leftovers and delete them
    import spark.implicits._
    def doc(id: Long, tokens: Seq[String]) = (id, tokens.mkString(" "))
    def cluster(tag: String) = (0 until 8).map(j => s"$tag$j")
    val base = (0L until 6L).map(i => doc(i, cluster(s"b${i}_")))
    val root = tempDir("graft-prefix-nomark")
    val path = root.resolve("ix").toString
    DocStream.initPrefixIndexStore(base.toDF("doc_id", "text"), path, T)
    val sink = DocStream.prefixIndexSink(path, T)
    sink(Seq(doc(100L, cluster("f0_"))).toDF("doc_id", "text"), 0L)
    sink(Seq(doc(200L, cluster("g0_"))).toDF("doc_id", "text"), 1L)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    Seq("entries", "freqd", "arrays").foreach { s =>
      (0 to 1).foreach { b =>
        fs.delete(new org.apache.hadoop.fs.Path(
          s"$path/$s/batch_id=$b/_SUCCESS"), false)
      }
    }
    val e = intercept[IllegalArgumentException] {
      DocStream.compactPrefixIndexStore(spark, path, T)
    }
    assert(e.getMessage.contains("marksuccessfuljobs"))
    // nothing was deleted: the store still loads complete
    assert(DocStream.loadStreamedPrefixIndex(spark, path)
      .arrays.select("doc_id").collect().map(_.getLong(0)).toSet ==
      base.map(_._1).toSet + 100L + 200L)
  }
}
