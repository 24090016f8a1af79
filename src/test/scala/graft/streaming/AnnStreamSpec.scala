package graft.streaming

import graft.SparkSpec
import graft.operators.AnnQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[AnnStream]]: streaming maintenance of the sign-LSH ANN index.
  * Soundness hinge: signatures depend only on (vector, planes), so the
  * maintained index must be INDISTINGUISHABLE — on probe results —
  * from an offline build over the same vectors at the same frozen
  * planes; compaction re-derives planes from the grown count and the
  * rebuilt index must again equal the offline build at the NEW
  * planes. */
class AnnStreamSpec extends SparkSpec {

  private val Occ = 8 // small target occupancy so planesFor moves at test sizes

  private def vecsDF(rows: Seq[(Long, Seq[Float])]): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  /** Deterministic 8-dim vectors: cluster c's members share a
    * direction, with a small per-member perturbation. */
  private def member(c: Int, j: Int): Seq[Float] =
    (0 until 8).map { d =>
      val axis = if (d == c % 8) 10f else 0f
      axis + ((c * 31 + j * 7 + d * 3) % 5) * 0.1f
    }

  private def probeRows(ix: AnnStream.StreamedAnnIndex,
                        queries: DataFrame, k: Int = 3): Seq[Seq[Any]] =
    AnnStream.knnProbe(ix, queries, k)
      .collect().map(_.toSeq.toList: Seq[Any]).toSeq

  private def offlineRows(all: Seq[(Long, Seq[Float])], planes: Int,
                          queries: DataFrame, k: Int = 3): Seq[Seq[Any]] =
    AnnQueries.knnProbeLsh(
      AnnQueries.signSignatures(vecsDF(all), planes), vecsDF(all), planes,
      queries, k)
      .collect().map(_.toSeq.toList: Seq[Any]).toSeq

  test("maintained == offline at frozen planes; replay idempotent; compaction re-derives planes") {
    val base = (0L until 60L).map(i => (i, member((i % 6).toInt, (i / 6).toInt)))
    val b0 = (100L until 120L).map(i => (i, member((i % 10).toInt, (i / 10).toInt)))
    // 250 is the only all-ones-direction vector anywhere — the
    // deterministic witness that batch-1 deltas become candidates
    val b1 = (200L until 220L).map(i =>
      (i, member((i % 12).toInt, (i / 12).toInt))) :+
      (250L, Seq.fill(8)(5f))
    val path = tempDir("graft-ann-stream")
      .resolve("ix").toString

    AnnStream.initAnnIndexStore(vecsDF(base), path, Occ)
    val planes0 = AnnQueries.planesFor(base.size.toLong, Occ)
    assert(AnnStream.loadStreamedAnnIndex(spark, path).planes == planes0)

    val sink = AnnStream.annIndexSink(path)
    sink(vecsDF(b0), 0L)
    sink(vecsDF(b1), 1L)

    val queries = vecsDF(Seq((900L, member(3, 9)),
      (901L, Seq.fill(8)(7f))))
    val ix = AnnStream.loadStreamedAnnIndex(spark, path)
    assert(ix.planes == planes0, "planes stay frozen across batches")
    val got = probeRows(ix, queries)
    // the hinge: streamed maintenance == offline rebuild, bit for bit
    assert(got == offlineRows(base ++ b0 ++ b1, planes0, queries),
      "maintained index == offline build at the frozen planes")
    // batch-1 vectors participate: 901 is parallel to b1's 250 (same
    // signature, cosine exactly 1) and to nothing else
    assert(got.exists(r => r.head == 901L && r(1) == 1 && r(2) == 250L),
      "delta vectors are candidates")

    // a planted scaled copy (identical direction => identical
    // signature) is the exact top-1 of its query at flips 0
    val twin = vecsDF(Seq((902L, member(2, 4).map(_ * 2f))))
    val top = AnnStream.knnProbe(ix, twin, k = 1, probeFlips = 0).collect()
    assert(top.length == 1 && top.head.getLong(3) == 1000000L,
      "scaled twin found at cos 1.0 in its home bucket")

    // at-least-once replay: overwriting batch 1's partitions changes
    // nothing
    sink(vecsDF(b1), 1L)
    assert(probeRows(AnnStream.loadStreamedAnnIndex(spark, path), queries)
      == got, "replay idempotent")

    // ── compaction: planes RE-DERIVED from the grown count ──
    AnnStream.compactAnnIndexStore(spark, path, Occ)
    val planes1 = AnnQueries.planesFor((base ++ b0 ++ b1).size.toLong, Occ)
    assert(planes1 > planes0, "fixture sanity: the corpus grew enough")
    val compacted = AnnStream.loadStreamedAnnIndex(spark, path)
    assert(compacted.planes == planes1, "compaction re-freezes planes")
    assert(probeRows(compacted, queries) ==
      offlineRows(base ++ b0 ++ b1, planes1, queries),
      "compacted index == offline build at the re-derived planes")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/sigd/batch_id=0")),
      "folded deltas are retired")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/basev=0")),
      "the superseded base is retired")

    // post-compaction batches keep folding under the NEW frozen planes
    val b2 = (300L until 310L).map(i => (i, member(13, (i % 10).toInt)))
    sink(vecsDF(b2), 2L)
    val after = AnnStream.loadStreamedAnnIndex(spark, path)
    assert(probeRows(after, queries, k = 3) ==
      offlineRows(base ++ b0 ++ b1 ++ b2, planes1, queries),
      "post-compaction deltas sign under the new planes")
  }

  test("autoCompactEvery re-derives planes mid-stream with no manual call") {
    val base = (0L until 40L).map(i => (i, member((i % 5).toInt, (i / 5).toInt)))
    val batches = (0 until 4).map(b =>
      (100L + b * 20L until 100L + (b + 1) * 20L).map(i =>
        (i, member((i % 7).toInt, (i / 7).toInt))))
    val path = tempDir("graft-ann-auto")
      .resolve("ix").toString
    AnnStream.initAnnIndexStore(vecsDF(base), path, Occ)
    val sink = AnnStream.annIndexSink(path, Occ, autoCompactEvery = 2)
    batches.zipWithIndex.foreach { case (b, i) => sink(vecsDF(b), i.toLong) }
    // the cadence fired twice (after batches 1 and 3): two base
    // rebuilds, each re-deriving planes for the grown corpus, no
    // manual compactAnnIndexStore call, no delta dirs left
    assert(DocStream.readLongMarker(spark, path, "_base_version")
      .contains(2L), "two auto-triggered occupancy re-freezes")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    assert((0 until 4).forall(b => !fs.exists(
      new org.apache.hadoop.fs.Path(s"$path/sigd/batch_id=$b"))),
      "all deltas folded and retired by the cadence")
    val all = base ++ batches.flatten
    val ix = AnnStream.loadStreamedAnnIndex(spark, path)
    assert(ix.planes == AnnQueries.planesFor(all.size.toLong, Occ),
      "planes re-derived at the final auto-compaction's corpus size")
    val queries = vecsDF(Seq((900L, member(3, 9)), (901L, member(6, 2))))
    assert(probeRows(ix, queries) == offlineRows(all, ix.planes, queries),
      "auto-compacted maintained index == offline build")
  }

  test("the sink fails the batch when a compaction flips the base version mid-batch") {
    val base = (0L until 40L).map(i => (i, member((i % 5).toInt, (i / 5).toInt)))
    val b0 = (100L until 110L).map(i => (i, member((i % 7).toInt, (i / 7).toInt)))
    val path = tempDir("graft-ann-flip")
      .resolve("ix").toString
    AnnStream.initAnnIndexStore(vecsDF(base), path, Occ)
    // emulate a compaction racing the sink (quiet-boundary BREACH): a
    // UDF in the batch's plan flips _base_version while the sink's own
    // writes evaluate — after the sink read planes at entry
    val marker = s"$path/_base_version"
    val flip = udf { (id: Long) =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(marker), "7")
      // drop the stale Hadoop-local checksum sidecar the raw write
      // invalidated, or the sink's marker re-read dies on CRC instead
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(s"$path/._base_version.crc"))
      id
    }
    val racing = vecsDF(b0).withColumn("vec_id", flip(col("vec_id")))
    val ex = intercept[IllegalArgumentException] {
      AnnStream.annIndexSink(path)(racing, 0L)
    }
    assert(ex.getMessage.contains("_base_version moved"),
      "the breach is loud, not silent recall loss")
  }

  test("a compaction crash before delta retirement never duplicates candidates") {
    val base = (0L until 40L).map(i => (i, member((i % 5).toInt, (i / 5).toInt)))
    val b0 = (100L until 110L).map(i => (i, member((i % 7).toInt, (i / 7).toInt)))
    val root = tempDir("graft-ann-crash")
    val path = root.resolve("ix").toString
    AnnStream.initAnnIndexStore(vecsDF(base), path, Occ)
    AnnStream.annIndexSink(path)(vecsDF(b0), 0L)
    val wantIds = (base ++ b0).map(_._1).toSet
    // stash deltas, compact, restore — the crash-window disk state
    val stash = root.resolve("stash")
    Seq("sigd", "vecd").foreach { s =>
      copyTree(java.nio.file.Paths.get(path, s), stash.resolve(s))
    }
    AnnStream.compactAnnIndexStore(spark, path, Occ)
    Seq("sigd", "vecd").foreach { s =>
      copyTree(stash.resolve(s), java.nio.file.Paths.get(path, s))
    }
    val ix = AnnStream.loadStreamedAnnIndex(spark, path)
    val ids = ix.vecs.select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(ids.sorted == wantIds.toSeq.sorted,
      "stale deltas below the base watermark are invisible (no duplicates)")
    // a probe still sees each index vector exactly once: its TopK list
    // has no repeated neighbour
    val q = vecsDF(Seq((900L, member(2, 3))))
    val nbs = AnnStream.knnProbe(ix, q, k = 5)
      .collect().map(_.getLong(2)).toSeq
    assert(nbs.distinct == nbs, "no duplicated candidates in TopK")
    // the next compaction finishes the crashed retirement, no rebuild
    AnnStream.compactAnnIndexStore(spark, path, Occ)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/sigd/batch_id=0")))
    assert(AnnStream.loadStreamedAnnIndex(spark, path)
      .vecs.select("vec_id").collect().map(_.getLong(0)).toSet == wantIds)
  }

  test("the sink runs as a real foreachBatch stream (engine batch ids, checkpointed)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val base = (0L until 30L).map(i => (i, member((i % 4).toInt, (i / 4).toInt)))
    val b0 = (100L until 110L).map(i => (i, member((i % 6).toInt, (i / 6).toInt)))
    val b1 = (200L until 210L).map(i => (i, member((i % 8).toInt, (i / 8).toInt)))
    val dir = tempDir("graft-ann-realstream")
    val path = dir.resolve("ix").toString
    AnnStream.initAnnIndexStore(vecsDF(base), path, Occ)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Seq[Float])]
    val q = input.toDS().toDF("vec_id", "embedding").writeStream
      .foreachBatch(AnnStream.annIndexSink(path))
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .start()
    try {
      Seq(b0, b1).foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    val queries = vecsDF(Seq((900L, member(6, 3))))
    val planes = AnnQueries.planesFor(base.size.toLong, Occ)
    assert(probeRows(AnnStream.loadStreamedAnnIndex(spark, path), queries)
      == offlineRows(base ++ b0 ++ b1, planes, queries),
      "engine-driven batches fold exactly like direct sink calls")
  }

  test("a sink crash before the sigd commit point cannot be compacted past") {
    val base = (0L until 40L).map(i => (i, member((i % 5).toInt, (i / 5).toInt)))
    val b0 = (100L until 110L).map(i => (i, member((i % 7).toInt, (i / 7).toInt)))
    // 250 is the only all-ones-direction vector — the witness that the
    // crashed batch's vectors survive into the index after replay
    val b1 = (200L until 210L).map(i =>
      (i, member((i % 9).toInt, (i / 9).toInt))) :+ (250L, Seq.fill(8)(5f))
    val path = tempDir("graft-ann-sinkcrash")
      .resolve("ix").toString
    AnnStream.initAnnIndexStore(vecsDF(base), path, Occ)
    val sink = AnnStream.annIndexSink(path)
    sink(vecsDF(b0), 0L)
    // batch 1's sink "crashes" between the vecd and sigd writes: run it
    // fully, then remove the commit-point partition
    sink(vecsDF(b1), 1L)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/sigd/batch_id=1"), true)
    // restart-time compaction must neither advance the watermark past
    // batch 1 (its replay's deltas would be invisible forever) nor fold
    // the orphaned vecd/batch_id=1 into the base (the replay's deltas
    // would then DUPLICATE every batch-1 vector)
    AnnStream.compactAnnIndexStore(spark, path, Occ)
    sink(vecsDF(b1), 1L) // the replay
    val all = base ++ b0 ++ b1
    val ix = AnnStream.loadStreamedAnnIndex(spark, path)
    val ids = ix.vecs.select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(ids.sorted == all.map(_._1).sorted,
      "the replayed batch's vectors are in the index exactly once")
    val queries = vecsDF(Seq((901L, Seq.fill(8)(7f))))
    val got = probeRows(ix, queries)
    assert(got == offlineRows(all, ix.planes, queries),
      "maintained == offline after the crash-replay interleaving")
    assert(got.exists(r => r.head == 901L && r(1) == 1 && r(2) == 250L),
      "the crashed-then-replayed batch's witness vector is retrievable")
  }

  test("a PARTIAL commit-point partition (data, no _SUCCESS) is not folded as complete") {
    val base = (0L until 40L).map(i => (i, member((i % 5).toInt, (i / 5).toInt)))
    val b0 = (100L until 110L).map(i => (i, member((i % 7).toInt, (i / 7).toInt)))
    val b1 = (200L until 210L).map(i =>
      (i, member((i % 9).toInt, (i / 9).toInt))) :+ (250L, Seq.fill(8)(5f))
    val path = tempDir("graft-ann-partial")
      .resolve("ix").toString
    AnnStream.initAnnIndexStore(vecsDF(base), path, Occ)
    val sink = AnnStream.annIndexSink(path)
    sink(vecsDF(b0), 0L)
    sink(vecsDF(b1), 1L)
    // batch 1's writer "died mid-job-commit" on the sigd write: part
    // files landed, _SUCCESS did not
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val succ = new org.apache.hadoop.fs.Path(s"$path/sigd/batch_id=1/_SUCCESS")
    assert(fs.exists(succ), "fixture sanity: the committer wrote _SUCCESS")
    fs.delete(succ, false)
    AnnStream.compactAnnIndexStore(spark, path, Occ)
    sink(vecsDF(b1), 1L) // the replay
    val all = base ++ b0 ++ b1
    val ix = AnnStream.loadStreamedAnnIndex(spark, path)
    assert(ix.vecs.select("vec_id").collect().map(_.getLong(0)).toSeq.sorted
      == all.map(_._1).sorted,
      "partial-commit batch lands exactly once after replay")
    val queries = vecsDF(Seq((901L, Seq.fill(8)(7f))))
    assert(probeRows(ix, queries) == offlineRows(all, ix.planes, queries))
  }

  test("a crashed REPLAY that regressed vecd under sigd's stale marker is not compacted past") {
    // the double-crash hole: attempt 1 of batch 1 writes vecd+sigd
    // fully but the streaming checkpoint never commits; the replay's
    // vecd overwrite DELETES the old partition (committer job start),
    // then crashes — vecd absent/partial while sigd still carries
    // attempt 1's _SUCCESS. Commit-point evidence alone would advance
    // the watermark and lose the batch TOTALLY (the rebuild excludes
    // the regressed vecd); batch-level evidence reads it uncommitted.
    val base = (0L until 40L).map(i => (i, member((i % 5).toInt, (i / 5).toInt)))
    val b0 = (100L until 110L).map(i => (i, member((i % 7).toInt, (i / 7).toInt)))
    val b1 = (200L until 210L).map(i =>
      (i, member((i % 9).toInt, (i / 9).toInt))) :+ (250L, Seq.fill(8)(5f))
    val path = tempDir("graft-ann-regress")
      .resolve("ix").toString
    AnnStream.initAnnIndexStore(vecsDF(base), path, Occ)
    val sink = AnnStream.annIndexSink(path)
    sink(vecsDF(b0), 0L)
    sink(vecsDF(b1), 1L) // attempt 1: fully written, "uncheckpointed"
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/vecd/batch_id=1"), true)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$path/sigd/batch_id=1/_SUCCESS")), "fixture: stale sigd marker")
    AnnStream.compactAnnIndexStore(spark, path, Occ)
    sink(vecsDF(b1), 1L) // the second replay repairs
    val all = base ++ b0 ++ b1
    val ix = AnnStream.loadStreamedAnnIndex(spark, path)
    assert(ix.vecs.select("vec_id").collect().map(_.getLong(0)).toSeq.sorted
      == all.map(_._1).sorted,
      "regressed batch lands exactly once after the repairing replay")
    val queries = vecsDF(Seq((901L, Seq.fill(8)(7f))))
    val got = probeRows(ix, queries)
    assert(got == offlineRows(all, ix.planes, queries))
    assert(got.exists(r => r.head == 901L && r(2) == 250L),
      "the witness vector survived the regression interleaving")
  }

  test("deconProbe: store-backed decontamination == offline indexed build; planted twin flagged") {
    val base = (0L until 60L).map(i => (i, member((i % 6).toInt, (i / 6).toInt)))
    val b0 = (100L until 130L).map(i => (i, member((i % 10).toInt, (i / 10).toInt)))
    val path = tempDir("graft-ann-decon")
      .resolve("ix").toString
    AnnStream.initAnnIndexStore(vecsDF(base), path, Occ)
    AnnStream.annIndexSink(path)(vecsDF(b0), 0L)
    val ix = AnnStream.loadStreamedAnnIndex(spark, path)
    // eval suite ids are DISJOINT from stored ids (the deconProbe
    // contract); 900 is a scaled copy of stored vector 15 = member(3, 2)
    // — identical direction, cosine exactly 1 — 901 points elsewhere
    val eval = vecsDF(Seq((900L, member(3, 2).map(_ * 2f)),
      (901L, member(5, 1))))
    val got = AnnStream.deconProbe(ix, eval, tauScaled = 900000L)
      .collect().map(_.toSeq.toList: Seq[Any]).toSeq
    val all = vecsDF(base ++ b0)
    val offline = AnnQueries.embedDecontaminateIndexed(
        AnnQueries.signSignatures(all, ix.planes), all, ix.planes,
        eval, tauScaled = 900000L)
      .collect().map(_.toSeq.toList: Seq[Any]).toSeq
    // the store serves the decon screen exactly as an offline build
    // over the same vectors at the frozen planes would
    assert(got.nonEmpty && got == offline)
    assert(got.exists(r => r.head == 15L && r(2) == 900L &&
      r(3) == 1000000L), "the planted parallel stored vector is flagged")
  }
}
