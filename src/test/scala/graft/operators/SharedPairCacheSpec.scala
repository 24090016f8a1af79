package graft.operators

import graft.SparkSpec

/** The shared-relation memo ([[SharedRelations]], exercised through
  * [[DedupQueries.tokenPrefixJoinShared]]): result parity with the
  * uncached build, one materialization per (input, knobs) key, the
  * snapshot rule (a rewritten input is rebuilt, an unchanged re-read
  * hits), and — the subtle part — the CLAIM handshake with
  * [[Checkpoints]]: a shared build's one-shot checkpoints transfer to
  * the memo entry, so a runner's `releaseOneShots()` (called after
  * every registry query) cannot delete storage the persisted
  * relation's lineage still needs for block-loss recompute. The
  * claimed directories die with the entry (`SharedRelations.clear`). */
class SharedPairCacheSpec extends SparkSpec {

  private def withCheckpointDir[T](f: => T): T = {
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft-shared-ckpt")
    sc.setCheckpointDir(dir.toString)
    try f
    finally {
      sc.getClass
        .getMethod("checkpointDir_$eq", classOf[Option[String]])
        .invoke(sc, None)
      org.apache.hadoop.fs.FileUtil.fullyDelete(dir.toFile)
    }
  }

  private def rddDirs(): Seq[String] = {
    val root = new java.io.File(
      new java.net.URI(spark.sparkContext.getCheckpointDir.get))
    def walk(f: java.io.File): Seq[java.io.File] =
      if (!f.isDirectory) Nil
      else if (f.getName.startsWith("rdd-")) Seq(f)
      else Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    walk(root).map(_.getName)
  }

  private def corpus(seed: Int, clusterSize: Int = 3) = {
    import spark.implicits._
    // clusters of near-identical docs so the 0.5 join has real edges:
    // within-source pairs only, so 36 docs in clusters of 3 give 12
    // edges and in clusters of 4 give 18
    (0L until 36L).map { i =>
      val base = (0 until 8).map(j => s"w${seed}_${i / clusterSize}_$j")
      val noise = s"n${seed}_$i"
      (i, s"src${i % 2}", (base :+ noise).mkString(" "))
    }.toDF("doc_id", "source", "text")
  }

  private def collectPairs(df: org.apache.spark.sql.DataFrame) =
    df.select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  test("shared edge relation equals the uncached build and memoizes") {
    SharedRelations.clear()
    try {
      val docs = corpus(1)
      val shared = DedupQueries.tokenPrefixJoinShared(docs, threshold = 0.5)
      val plain = DedupQueries.tokenPrefixJoin(docs, threshold = 0.5,
        sorted = false)
      assert(collectPairs(shared).nonEmpty, "fixture must produce edges")
      assert(collectPairs(shared) === collectPairs(plain))
      // memo hit: identical (input plan, threshold, guard) returns the
      // SAME persisted relation — the point of the cache
      assert(DedupQueries.tokenPrefixJoinShared(docs, threshold = 0.5)
        eq shared)
      // a different threshold is a different relation
      assert(!(DedupQueries.tokenPrefixJoinShared(docs, threshold = 0.8)
        eq shared))
    } finally SharedRelations.clear()
  }

  test("tiered edge relation: filtered base == direct build, memoized") {
    SharedRelations.clear()
    try {
      val docs = corpus(4)
      val tiered = DedupQueries.tokenPrefixEdgesAtLeast(docs, threshold = 0.5)
      val direct = DedupQueries.tokenPrefixJoin(docs, threshold = 0.5,
        sorted = false)
      assert(collectPairs(tiered).nonEmpty, "fixture must produce edges")
      assert(collectPairs(tiered) === collectPairs(direct))
      // the jac values themselves must match the direct build (the
      // filter compares the same float expression)
      def jacs(df: org.apache.spark.sql.DataFrame) =
        df.select("id1", "id2", "jac").collect()
          .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
          .sortBy(_._1).toSeq
      assert(jacs(tiered) === jacs(direct))
      // memo hit: same threshold returns the same relation instance
      assert(DedupQueries.tokenPrefixEdgesAtLeast(docs, threshold = 0.5)
        eq tiered)
      // the base entry is shared: asking for the base threshold hits
      // the relation the tiered build derived from
      val base = DedupQueries.tokenPrefixEdgesAtLeast(docs, threshold = 0.4)
      assert(base eq DedupQueries.tokenPrefixJoinShared(docs, threshold = 0.4))
    } finally SharedRelations.clear()
  }

  test("eviction retires only the least-recently-used entry") {
    SharedRelations.clear()
    try {
      val docs = corpus(5)
      // fill the cache to its bound with distinct knob keys (thresholds
      // spread inside (0.3, 0.8) so every entry is a distinct ppm key)
      val cap = SharedRelations.MaxEntries
      val ts = (1 to cap).map(i => 0.30 + i * 0.5 / (cap + 1))
      val entries = ts.map(t =>
        t -> DedupQueries.tokenPrefixJoinShared(docs, threshold = t)).toMap
      // touch the FIRST entry: access order moves it to the tail, so the
      // next insert must evict the second entry, not this one
      assert(DedupQueries.tokenPrefixJoinShared(docs, threshold = ts.head)
        eq entries(ts.head))
      DedupQueries.tokenPrefixJoinShared(docs, threshold = 0.99)
      assert(DedupQueries.tokenPrefixJoinShared(docs, threshold = ts.head)
        eq entries(ts.head), "recently-used entry must survive eviction")
      assert(!(DedupQueries.tokenPrefixJoinShared(docs, threshold = ts(1))
        eq entries(ts(1))), "the LRU entry is the one evicted")
      // entries 3..8 were never candidates: still memoized
      assert(DedupQueries.tokenPrefixJoinShared(docs, threshold = ts(4))
        eq entries(ts(4)))
    } finally SharedRelations.clear()
  }

  test("a hit never crosses SparkSessions") {
    SharedRelations.clear()
    try {
      val docs = corpus(6)
      val shared = DedupQueries.tokenPrefixJoinShared(docs, threshold = 0.5)
      // same data, same logical shape, DIFFERENT session: must build its
      // own entry — a cross-session hit would hand session B a relation
      // whose persisted blocks belong to session A's state
      val other = spark.newSession()
      import other.implicits._
      val docsB = docs.collect().toSeq
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .toDF("doc_id", "source", "text")
      val sharedB = DedupQueries.tokenPrefixJoinShared(docsB, threshold = 0.5)
      assert(!(sharedB eq shared))
      assert(sharedB.sparkSession eq other)
      assert(collectPairs(sharedB) === collectPairs(shared))
    } finally SharedRelations.clear()
  }

  test("runner release cannot delete a cached relation's claimed checkpoints") {
    withCheckpointDir {
      SharedRelations.clear()
      try {
        val docs = corpus(2)
        val shared = DedupQueries.tokenPrefixJoinShared(docs, threshold = 0.5)
        val expected = collectPairs(shared)
        assert(rddDirs().nonEmpty,
          "the shared build's candidate index must be checkpointed")
        // the registry runner's per-query boundary: must NOT touch the
        // cache-claimed directories
        Checkpoints.releaseOneShots()
        val afterRelease = rddDirs()
        assert(afterRelease.nonEmpty,
          "claimed one-shots must survive releaseOneShots")
        // simulate executor block loss: drop the persisted blocks and
        // force a recompute THROUGH the claimed checkpoint — this is
        // exactly the path a premature delete would break
        shared.unpersist(blocking = true)
        assert(collectPairs(shared) === expected,
          "recompute through claimed checkpoints after block loss")
        // the claimed directories die with the cache entry
        SharedRelations.clear()
        assert(rddDirs().isEmpty,
          "SharedRelations.clear must delete the claimed directories")
      } finally SharedRelations.clear()
    }
  }

  test("an unrelated one-shot in the same window is still released") {
    withCheckpointDir {
      SharedRelations.clear()
      try {
        val docs = corpus(3)
        DedupQueries.tokenPrefixJoinShared(docs, threshold = 0.5)
        Checkpoints.releaseOneShots()
        val claimed = rddDirs().toSet
        // a NON-shared query's one-shot (registered after the claim)
        // must still be releasable at the runner boundary
        DedupQueries.tokenPrefixJoin(docs, threshold = 0.3).count()
        assert(rddDirs().toSet != claimed, "plain query checkpointed")
        Checkpoints.releaseOneShots()
        assert(rddDirs().toSet === claimed,
          "release drops the plain query's dirs, keeps the claimed ones")
      } finally SharedRelations.clear()
    }
  }

  /** A parquet input path under a fresh temp dir, deleted after `f`. */
  private def withInputPath[T](f: String => T): T = {
    val root = java.nio.file.Files.createTempDirectory("graft-shared-input")
    try f(root.resolve("documents.parquet").toString)
    finally org.apache.hadoop.fs.FileUtil.fullyDelete(root.toFile)
  }

  private def plainEdges(docs: org.apache.spark.sql.DataFrame) =
    collectPairs(DedupQueries.tokenPrefixJoin(docs, threshold = 0.5,
      sorted = false))

  test("a Spark overwrite of the input is rebuilt from the new files") {
    SharedRelations.clear()
    try withInputPath { path =>
      corpus(7).write.parquet(path)
      val old = DedupQueries.tokenPrefixJoinShared(spark.read.parquet(path),
        threshold = 0.5)
      assert(collectPairs(old).size === 12)
      corpus(7, clusterSize = 4).write.mode("overwrite").parquet(path)
      val docs = spark.read.parquet(path)
      assert(plainEdges(docs).size === 18)
      assert(collectPairs(DedupQueries.tokenPrefixJoinShared(docs,
        threshold = 0.5)) === plainEdges(docs))
    } finally SharedRelations.clear()
  }

  test("input files replaced outside Spark are rebuilt from the new files") {
    SharedRelations.clear()
    try withInputPath { path =>
      corpus(8).write.parquet(path)
      val old = DedupQueries.tokenPrefixJoinShared(spark.read.parquet(path),
        threshold = 0.5)
      assert(collectPairs(old).size === 12)
      // write the new corpus beside the input, then swap the directories
      // with plain filesystem calls: Spark never hears of the change
      val staged = s"$path.staged"
      corpus(8, clusterSize = 4).write.parquet(staged)
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(path))
      java.nio.file.Files.move(java.nio.file.Paths.get(staged),
        java.nio.file.Paths.get(path))
      val docs = spark.read.parquet(path)
      assert(plainEdges(docs).size === 18)
      assert(collectPairs(DedupQueries.tokenPrefixJoinShared(docs,
        threshold = 0.5)) === plainEdges(docs))
    } finally SharedRelations.clear()
  }

  test("an unchanged re-read of the input hits") {
    SharedRelations.clear()
    try withInputPath { path =>
      corpus(9).write.parquet(path)
      val first = spark.read.parquet(path)
      assert(SharedRelations.fingerprint(first).nonEmpty)
      assert(SharedRelations.fingerprint(corpus(9)).isEmpty,
        "an in-memory relation reads no files")
      val shared = DedupQueries.tokenPrefixJoinShared(first, threshold = 0.5)
      val (hits, misses) = (SharedRelations.hits, SharedRelations.misses)
      assert(DedupQueries.tokenPrefixJoinShared(spark.read.parquet(path),
        threshold = 0.5) eq shared)
      assert((SharedRelations.hits - hits, SharedRelations.misses - misses)
        === ((1L, 0L)))
    } finally SharedRelations.clear()
  }
}
