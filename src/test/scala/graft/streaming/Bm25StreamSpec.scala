package graft.streaming

import graft.SparkSpec
import graft.operators.CurationQueries
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** [[DocStream.bm25IndexSink]] / [[DocStream.loadBm25Index]]: the
  * streamed retrieval index must be EQUAL to an offline build over the
  * same documents — relations and scoring both — and a replayed batch
  * (foreachBatch's at-least-once contract) must leave the index
  * unchanged. */
class Bm25StreamSpec extends SparkSpec {

  private def relRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  test("streamed index == offline build; batch replay is idempotent") {
    import spark.implicits._
    val vocab = (0 until 10).map(i => s"w$i")
    val rnd = new scala.util.Random(3)
    def doc(i: Long) =
      (i, Seq.fill(5 + rnd.nextInt(5))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    val batches = Seq((0L until 20L).map(doc), (20L until 45L).map(doc),
      (45L until 60L).map(doc))

    val dir = tempDir("graft-bm25-stream")
    val path = dir.resolve("ix").toString
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = input.toDS().toDF("doc_id", "text").writeStream
      .foreachBatch(DocStream.bm25IndexSink(path))
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .start()
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    val streamed = DocStream.loadBm25Index(spark, path)
    val offline = CurationQueries.buildBm25Index(
      batches.flatten.toDF("doc_id", "text"))
    assert(relRows(streamed.tf) == relRows(offline.tf), "tf postings equal")
    assert(relRows(streamed.df) == relRows(offline.df), "folded df equal")
    assert(relRows(streamed.totals) == relRows(offline.totals), "totals equal")

    // scoring through the streamed index matches the offline index
    val queries = Seq((1000L, "w1 w2 w3 zz"), (1001L, "w7 w8")).toDF("doc_id", "text")
    def score(ix: CurationQueries.Bm25Index) = CurationQueries
      .bm25ScoreIndexed(ix, CurationQueries.bm25QueryTerms(ix, queries))
      .collect().map(_.toSeq).toSeq
    val s = score(streamed)
    assert(s.nonEmpty && s == score(offline))

    // at-least-once replay: re-running batch 1's write with the same
    // batch_id overwrites its own partition — nothing double-counts
    DocStream.bm25IndexSink(path)(batches(1).toDF("doc_id", "text"), 1L)
    val replayed = DocStream.loadBm25Index(spark, path)
    assert(relRows(replayed.df) == relRows(offline.df), "replayed df equal")
    assert(relRows(replayed.totals) == relRows(offline.totals))
    assert(score(replayed) == s, "replay leaves scoring unchanged")
  }

  test("compaction folds deltas; loads, replays and later batches stay correct") {
    import spark.implicits._
    val vocab = (0 until 10).map(i => s"w$i")
    val rnd = new scala.util.Random(9)
    def doc(i: Long) =
      (i, Seq.fill(5 + rnd.nextInt(5))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    val batches = Seq((0L until 20L).map(doc), (20L until 40L).map(doc),
      (40L until 55L).map(doc), (55L until 70L).map(doc))
    val path = tempDir("graft-bm25-compact")
      .resolve("ix").toString
    val sink = DocStream.bm25IndexSink(path)
    def offline(n: Int) = CurationQueries.buildBm25Index(
      batches.take(n).flatten.toDF("doc_id", "text"))
    def check(n: Int, msg: String): Unit = {
      val got = DocStream.loadBm25Index(spark, path)
      val want = offline(n)
      assert(relRows(got.df) == relRows(want.df), s"$msg: df")
      assert(relRows(got.totals) == relRows(want.totals), s"$msg: totals")
      assert(relRows(got.tf) == relRows(want.tf), s"$msg: tf")
    }

    (0 until 3).foreach(i => sink(batches(i).toDF("doc_id", "text"), i.toLong))
    DocStream.compactBm25Index(spark, path)
    assert(DocStream.compactedThrough(spark, path).contains(2L))
    check(3, "after compaction")
    // the folded delta partitions are retired: load cost no longer
    // grows with batch count
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/dfd/batch_id=0")),
      "folded dfd deltas must be deleted")
    // postings are consolidated too — the per-batch tf dirs (the
    // small-files accumulation) are rewritten into one token-clustered
    // snapshot and retired
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/tfsnap/through=2")),
      "consolidated postings snapshot exists")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/tf/batch_id=0")),
      "consolidated tf batch dirs must be deleted")
    // a replayed batch AT the watermark is skipped, not double-counted
    sink(batches(1).toDF("doc_id", "text"), 1L)
    check(3, "replay below watermark is a no-op")
    // a fresh batch after compaction folds on top of the snapshot
    sink(batches(3).toDF("doc_id", "text"), 3L)
    check(4, "post-compaction batch")
    // second compaction folds snapshot + the one new delta
    DocStream.compactBm25Index(spark, path)
    assert(DocStream.compactedThrough(spark, path).contains(3L))
    check(4, "after second compaction")
    // compaction with nothing new is a no-op
    DocStream.compactBm25Index(spark, path)
    check(4, "idle compaction")
  }

  test("autoCompactEvery compacts mid-stream with no manual call") {
    import spark.implicits._
    val vocab = (0 until 10).map(i => s"w$i")
    val rnd = new scala.util.Random(23)
    def doc(i: Long) =
      (i, Seq.fill(5 + rnd.nextInt(5))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    val batches = (0 until 5).map(b => (b * 15L until (b + 1) * 15L).map(doc))
    val dir = tempDir("graft-bm25-auto")
    val path = dir.resolve("ix").toString
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = input.toDS().toDF("doc_id", "text").writeStream
      .foreachBatch(DocStream.bm25IndexSink(path, autoCompactEvery = 2))
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .start()
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    // the cadence fired by itself: after batches 0..4 at every=2 the
    // second and fourth batches trigger, leaving watermark 3 and exactly
    // one uncompacted delta (batch 4)
    assert(DocStream.compactedThrough(spark, path).contains(3L),
      "delta-volume cadence compacted through batch 3 with no manual call")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val pending = (0 until 5).count(b => fs.exists(
      new org.apache.hadoop.fs.Path(s"$path/dfd/batch_id=$b")))
    assert(pending == 1, "uncompacted deltas stay below the cadence")
    // correctness across auto-triggered compactions mid-stream
    val streamed = DocStream.loadBm25Index(spark, path)
    val offline = CurationQueries.buildBm25Index(
      batches.flatten.toDF("doc_id", "text"))
    assert(relRows(streamed.df) == relRows(offline.df), "df equal")
    assert(relRows(streamed.totals) == relRows(offline.totals), "totals equal")
    assert(relRows(streamed.tf) == relRows(offline.tf), "tf equal")
  }

  test("a sink crash before the dfd commit cannot be compacted past") {
    import spark.implicits._
    val vocab = (0 until 10).map(i => s"w$i")
    val rnd = new scala.util.Random(17)
    def doc(i: Long) =
      (i, Seq.fill(5 + rnd.nextInt(5))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    val batches = Seq((0L until 15L).map(doc), (15L until 30L).map(doc),
      (30L until 42L).map(doc))
    val path = tempDir("graft-bm25-crash")
      .resolve("ix").toString
    val sink = DocStream.bm25IndexSink(path)
    sink(batches(0).toDF("doc_id", "text"), 0L)
    sink(batches(1).toDF("doc_id", "text"), 1L)
    // simulate batch 2 dying between the tot and dfd writes — exactly
    // the prefix the sink's write order can leave (dfd is the commit
    // point, written last)
    val idx2 = CurationQueries.buildBm25Index(batches(2).toDF("doc_id", "text"))
    idx2.tf.write.mode("overwrite").parquet(s"$path/tf/batch_id=2")
    idx2.totals.write.mode("overwrite").parquet(s"$path/tot/batch_id=2")
    // restart-time compaction: the watermark must stop at the last
    // fully-committed batch, and the orphaned tot delta must be neither
    // folded nor retired (else the replay below double-counts it)
    DocStream.compactBm25Index(spark, path)
    assert(DocStream.compactedThrough(spark, path).contains(1L),
      "watermark must not cover the half-committed batch")
    // foreachBatch re-delivers batch 2 (2 > watermark, not skipped);
    // the overwrite repairs the crash and the index ends exact
    sink(batches(2).toDF("doc_id", "text"), 2L)
    val got = DocStream.loadBm25Index(spark, path)
    val want = CurationQueries.buildBm25Index(
      batches.flatten.toDF("doc_id", "text"))
    assert(relRows(got.df) == relRows(want.df), "df after repair")
    assert(relRows(got.totals) == relRows(want.totals), "totals after repair")
    assert(relRows(got.tf) == relRows(want.tf), "tf after repair")
    // and the next compaction folds the repaired batch cleanly
    DocStream.compactBm25Index(spark, path)
    assert(DocStream.compactedThrough(spark, path).contains(2L))
    val after = DocStream.loadBm25Index(spark, path)
    assert(relRows(after.df) == relRows(want.df))
    assert(relRows(after.totals) == relRows(want.totals))
  }

  test("a PARTIAL dfd partition (data, no _SUCCESS) is not folded as complete") {
    import spark.implicits._
    val vocab = (0 until 10).map(i => s"w$i")
    val rnd = new scala.util.Random(23)
    def doc(i: Long) =
      (i, Seq.fill(5 + rnd.nextInt(5))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    val batches = Seq((0L until 15L).map(doc), (15L until 28L).map(doc))
    val path = tempDir("graft-bm25-partial")
      .resolve("ix").toString
    val sink = DocStream.bm25IndexSink(path)
    sink(batches(0).toDF("doc_id", "text"), 0L)
    sink(batches(1).toDF("doc_id", "text"), 1L)
    // batch 1's dfd writer "died mid-job-commit": part files landed at
    // the destination, _SUCCESS never did — data-bearing but NOT commit
    // evidence (a v2 committer or a death mid-file-move leaves this)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val succ = new org.apache.hadoop.fs.Path(s"$path/dfd/batch_id=1/_SUCCESS")
    assert(fs.exists(succ), "fixture sanity: the committer wrote _SUCCESS")
    fs.delete(succ, false)
    DocStream.compactBm25Index(spark, path)
    assert(DocStream.compactedThrough(spark, path).contains(0L),
      "watermark must not cover the partially-committed batch")
    sink(batches(1).toDF("doc_id", "text"), 1L) // the replay
    val got = DocStream.loadBm25Index(spark, path)
    val want = CurationQueries.buildBm25Index(
      batches.flatten.toDF("doc_id", "text"))
    assert(relRows(got.df) == relRows(want.df), "df exact after replay")
    assert(relRows(got.totals) == relRows(want.totals))
    assert(relRows(got.tf) == relRows(want.tf))
  }

  test("a crashed REPLAY that regressed tf under dfd's stale marker is not compacted past") {
    // double-crash: attempt 1 of batch 1 commits tf/tot/dfd fully but
    // the streaming checkpoint never does; the replay's tf overwrite
    // deletes the old partition then crashes — tf absent while dfd
    // still carries attempt 1's _SUCCESS. dfd-only evidence would fold
    // the regressed batch into the snapshots, advance the watermark,
    // and make bm25IndexSink SKIP the repairing replay forever;
    // batch-level evidence keeps the watermark below it.
    import spark.implicits._
    val vocab = (0 until 10).map(i => s"w$i")
    val rnd = new scala.util.Random(31)
    def doc(i: Long) =
      (i, Seq.fill(5 + rnd.nextInt(5))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    val batches = Seq((0L until 15L).map(doc), (15L until 28L).map(doc))
    val path = tempDir("graft-bm25-regress")
      .resolve("ix").toString
    val sink = DocStream.bm25IndexSink(path)
    sink(batches(0).toDF("doc_id", "text"), 0L)
    sink(batches(1).toDF("doc_id", "text"), 1L) // attempt 1, complete
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/tf/batch_id=1"), true)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$path/dfd/batch_id=1/_SUCCESS")), "fixture: stale dfd marker")
    DocStream.compactBm25Index(spark, path)
    assert(DocStream.compactedThrough(spark, path).contains(0L),
      "watermark must not cover the regressed batch")
    sink(batches(1).toDF("doc_id", "text"), 1L) // the repairing replay
    val got = DocStream.loadBm25Index(spark, path)
    val want = CurationQueries.buildBm25Index(
      batches.flatten.toDF("doc_id", "text"))
    assert(relRows(got.tf) == relRows(want.tf), "tf exact after repair")
    assert(relRows(got.df) == relRows(want.df))
    assert(relRows(got.totals) == relRows(want.totals))
  }

  test("initBm25Store: probe face equals offline build, idempotent, " +
       "keyed by corpus identity") {
    import spark.implicits._
    val vocab = (0 until 12).map(i => s"w$i")
    val rnd = new scala.util.Random(41)
    def doc(i: Long) = (i,
      Seq.fill(5 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "), s"src${i % 3}")
    val sfDir = tempDir("graft-bm25-sf")
    val storeRoot = sfDir.resolve("stores").toString
    def writeCorpus(docs: Seq[(Long, String, String)]): Unit =
      docs.toDF("doc_id", "text", "source").coalesce(1)
        .write.mode("overwrite").parquet(s"$sfDir/documents.parquet")
    val corpus = (0L until 60L).map(doc)
    writeCorpus(corpus)

    val path = DocStream.initBm25Store(spark, sfDir.toString, storeRoot)
    // init leaves a COMPACTED store: one token-clustered snapshot, no
    // per-batch deltas to fold at load
    assert(DocStream.compactedThrough(spark, path).contains(0L))
    val ix = DocStream.loadBm25Index(spark, path)
    val offline = CurationQueries.buildBm25Index(
      corpus.toDF("doc_id", "text", "source"))
    assert(relRows(ix.tf) == relRows(offline.tf), "persisted tf equal")
    assert(relRows(ix.df) == relRows(offline.df))
    assert(relRows(ix.totals) == relRows(offline.totals))

    // probing the store scores identically to the offline index
    val queries = Seq((1000L, "w1 w2 w3"), (1001L, "w7 w8")).toDF("doc_id", "text")
    def score(i: CurationQueries.Bm25Index) = CurationQueries
      .bm25ScoreIndexed(i, CurationQueries.bm25QueryTerms(i, queries))
      .collect().map(_.toSeq).toSeq
    assert(score(ix).nonEmpty && score(ix) == score(offline))

    // idempotent: a second init short-circuits on the ready marker —
    // same path, snapshot untouched (mtime unchanged)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val snap = new org.apache.hadoop.fs.Path(s"$path/tfsnap/through=0")
    val mtime = fs.getFileStatus(snap).getModificationTime
    assert(DocStream.initBm25Store(spark, sfDir.toString, storeRoot) == path)
    assert(fs.getFileStatus(snap).getModificationTime == mtime,
      "re-init must not rewrite the snapshot")

    // staleness guard: a REGENERATED corpus (different content → new
    // file identity) keys a DIFFERENT store, so a probe can never read
    // an index built from the old corpus
    Thread.sleep(1100) // local-fs mtime granularity is one second
    writeCorpus((0L until 70L).map(doc))
    val path2 = DocStream.initBm25Store(spark, sfDir.toString, storeRoot)
    assert(path2 != path, "regenerated corpus must key a fresh store")
    assert(DocStream.loadBm25Index(spark, path2).totals
      .collect()(0).getLong(0) == 70L, "fresh store indexes the new corpus")
  }
}
