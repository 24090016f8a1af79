package graft.operators

import graft.SparkSpec
import graft.sinks.UpsertSink
import org.apache.spark.sql.functions._

/** [[Checkpoints.truncate]] strategy selection: reliable `checkpoint` when
  * the context has a checkpoint dir (cluster mode — survives executor
  * loss), `localCheckpoint` otherwise. The iterative operators (connected
  * components, k-means) must produce identical results in both modes. */
class CheckpointsSpec extends SparkSpec {

  /** Restore "no checkpoint dir" after the reliable-mode block —
    * SparkContext has no public unset, but private[spark] members are
    * public in bytecode. */
  private def withCheckpointDir[T](f: => T): T = {
    val sc = spark.sparkContext
    val dir = tempDir("graft-ckpt")
    sc.setCheckpointDir(dir.toString)
    try f
    finally sc.getClass
      .getMethod("checkpointDir_$eq", classOf[Option[String]])
      .invoke(sc, None)
  }

  /** rdd-* data directories currently under the session's checkpoint dir. */
  private def rddDirs(): Seq[String] = {
    // getCheckpointDir returns a file: URI, not a filesystem path
    val root = new java.io.File(
      new java.net.URI(spark.sparkContext.getCheckpointDir.get))
    def walk(f: java.io.File): Seq[java.io.File] =
      if (!f.isDirectory) Nil
      else if (f.getName.startsWith("rdd-")) Seq(f)
      else Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    walk(root).map(_.getName)
  }

  test("CheckpointCycle keeps at most one live dir; release deletes it") {
    withCheckpointDir {
      val cyc = Checkpoints.cycle()
      val a = cyc.truncate(spark.range(10).toDF("x"))
      val dirA = Checkpoints.checkpointFileOf(a)
      assert(dirA.isDefined, "reliable path must report its data dir")
      assert(rddDirs().size == 1)
      val b = cyc.truncate(a.selectExpr("x + 1 as x"))
      assert(Checkpoints.checkpointFileOf(b).isDefined)
      assert(rddDirs().size == 1, "superseded round's dir must be deleted")
      assert(b.collect().map(_.getLong(0)).sorted.toSeq == (1L to 10L))
      cyc.release()
      assert(rddDirs().isEmpty, "release must delete the final dir")
    }
  }

  test("iterative operators retire one checkpoint dir per job, not per round") {
    import spark.implicits._
    withCheckpointDir {
      // a 65-node chain forces several large-star/small-star rounds
      val edges = (0L until 64L).map(i => (i, i + 1)).toDF("u", "v")
      val comp = ConnectedComponents.components(spark.range(65).toDF("id"), edges)
      // the returned assignment must still be readable (its final
      // checkpoint stays live) while every superseded round is gone
      assert(comp.collect().forall(_.getLong(1) == 0L))
      assert(rddDirs().size <= 1, s"CC left ${rddDirs().size} dirs")

      val rnd = new scala.util.Random(5)
      val emb = (0L until 40L).map(i =>
        (i, Array.fill(6)(rnd.nextFloat()), s"l${i % 3}"))
        .toDF("vec_id", "embedding", "label")
      val cells = AnnQueries.kmeansCells(emb, k = 3, iters = 3)
      assert(cells.collect().length == 40)
      assert(rddDirs().size <= 2, s"k-means left ${rddDirs().size} dirs")
    }
  }

  test("mergeIntoPartitioned leaves no checkpoint data after the commit") {
    import spark.implicits._
    withCheckpointDir {
      val path = tempDir("graft-upsert-ckpt").resolve("t").toString
      def batch(v: Long) = Seq((1L, "a", v, "d1"), (2L, "b", v, "d1"))
        .toDF("k", "payload", "ver", "day")
      UpsertSink.mergeIntoPartitioned(spark, batch(1), path,
        keyCols = Seq("k"), versionCol = "ver", partitionCol = "day")
      // second batch takes the merge path (reads existing + checkpoints)
      UpsertSink.mergeIntoPartitioned(spark, batch(2), path,
        keyCols = Seq("k"), versionCol = "ver", partitionCol = "day")
      assert(spark.read.parquet(path).agg(max("ver")).head().getLong(0) == 2L)
      assert(rddDirs().isEmpty,
        "a committed micro-batch must not leak checkpoint storage")
    }
  }

  test("one-shot checkpoints never accumulate across released runs") {
    import spark.implicits._
    withCheckpointDir {
      val docs = (0L until 40L).map(i =>
        (i, s"src${i % 2}", s"tok$i tok${i + 1} tok${i + 2} shared common"))
        .toDF("doc_id", "source", "text")
      (1 to 2).foreach { round =>
        // a one-shot-truncating operator (prefix similarity join
        // checkpoints its candidate index), consumed by an action...
        DedupQueries.tokenPrefixJoin(docs, threshold = 0.3).count()
        assert(rddDirs().nonEmpty,
          s"round $round: the one-shot checkpoint should be live mid-run")
        // ...then released at the runner's unit-of-work boundary
        Checkpoints.releaseOneShots()
        assert(rddDirs().isEmpty,
          s"round $round: released one-shots must leave no directories")
      }
      // a CheckpointCycle's live round is NOT a one-shot: a concurrent
      // release must not delete it mid-iteration
      val cyc = Checkpoints.cycle()
      val live = cyc.truncate(spark.range(5).toDF("x"))
      Checkpoints.releaseOneShots()
      assert(rddDirs().size == 1, "cycle-owned dir must survive a release")
      assert(live.count() == 5L, "cycle round readable after release")
      cyc.release()
      assert(rddDirs().isEmpty)
    }
  }

  test("CC and k-means identical under reliable checkpoint and localCheckpoint") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val edges = Seq.fill(300)(
      (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter(e => e._1 != e._2).toDF("u", "v")
    val vertices = spark.range(120).toDF("id")
    val emb = (0L until 60L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat()), s"l${i % 4}"))
      .toDF("vec_id", "embedding", "label")

    def ccRun() = ConnectedComponents.components(vertices, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    def kmRun() = AnnQueries.kmeansCells(emb, k = 4, iters = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq

    assert(spark.sparkContext.getCheckpointDir.isEmpty, "precondition: local mode")
    val (ccLocal, kmLocal) = (ccRun(), kmRun())
    val (ccReliable, kmReliable, files) = withCheckpointDir {
      assert(spark.sparkContext.getCheckpointDir.isDefined)
      val cc = ccRun()
      val km = kmRun()
      // the reliable path must actually write checkpoint files
      val root = new java.io.File(spark.sparkContext.getCheckpointDir.get)
      def countFiles(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(countFiles).sum else 1
      (cc, km, countFiles(root))
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty, "dir restored")
    assert(ccReliable === ccLocal)
    assert(kmReliable === kmLocal)
    assert(files > 0, "reliable mode wrote checkpoint files")
  }
}
