package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.storage.StorageLevel

/** The engine's one memo of relations that several registry queries
  * share (the TF-pair statistics of q112/q117/q124, the tiered token
  * edge relation of q57/q81/q96/q99/q110, the BM25 index, the kNN and
  * LSH edge sets, the component assignments over them, the n-gram count
  * tables, the BPE training run of q89/q90, …). One map, one key, one
  * hit rule and one [[clear]].
  *
  * Key: (kind, 32-bit hash of the inputs, identity of the inputs'
  * SparkSession, two integer knobs). The inputs are relations (their
  * analyzed plans' `semanticHash`es; most constructions read one,
  * [[group]] may read several) or, for a [[value]], the file paths it
  * is built from. `kind` names the construction and must be unique per
  * builder (SharedRelationKindsSpec scans the sources for duplicates);
  * the knobs carry its parameters (a threshold scaled to ppm, a band
  * layout, …).
  *
  * Hit rule: an entry under the key is served only when
  *  - it belongs to the SAME SparkSession (a relation from a stopped or
  *    different session would hand out dead or foreign blocks);
  *  - its plans `sameResult` the inputs' and its paths equal theirs (the
  *    32-bit hash is confirmed, not trusted);
  *  - its files equal the inputs' ([[fingerprint]] of the relations,
  *    [[filesUnder]] the paths): the snapshot rule. A
  *    parquet read's plan names its root path, not its files, so a
  *    rewritten input would otherwise hit the relation built from the
  *    old files (and after an in-session Spark overwrite, one whose
  *    checkpointed parts still hold the old data). A relation that
  *    reads no files has an empty fingerprint; its data is in the plan.
  *    A rewrite that keeps a file's name and length within the
  *    filesystem's mtime granularity is not seen (Spark's writers name
  *    every file afresh, so their rewrites always are).
  * Any other entry under the key is retired and the relation rebuilt.
  *
  * Values: [[apply]] persists the built relation MEMORY_AND_DISK with
  * its lineage intact (memory pressure demotes blocks to disk; a lost
  * block recomputes). [[group]] stores the caller's relations as built.
  * [[value]] stores a driver-side value (a collected lookup structure):
  * a hit on it builds no relation and runs no Spark job.
  *
  * Counters: hits and misses per kind ([[byKind]], totals [[hits]] and
  * [[misses]]), and the bytes the live entries' cached relations hold
  * in memory and on disk, read from their cached RDDs' storage info.
  *
  * Bound: at most [[MaxEntries]] entries in access order; a miss on a
  * full memo retires ONLY the least-recently-used entry — relations
  * other callers still hold are never flushed wholesale. A registry
  * pass holds about 18 live entries, each sublinear in the corpus
  * (pair, edge, component and count tables; the banding pass).
  *
  * Checkpoint claim: a build's lineage may read one-shot checkpoints
  * (the similarity joins' candidate index). The entry claims the ones
  * the calling thread registered during its build
  * ([[Checkpoints.claimOneShots]] with `sameThreadOnly`, so a concurrent
  * sink's checkpoint is never taken), which keeps a runner's
  * [[Checkpoints.releaseOneShots]] from deleting storage that a block-
  * loss recompute still reads. A retired entry is unpersisted at once,
  * but its claimed directories wait in a bounded queue: an in-flight
  * query may still hold the relation, and its recompute path needs
  * them. Beyond [[MaxRetiredOwned]] directories the oldest are deleted
  * (they survived that many retirements); [[clear]] deletes all. */
object SharedRelations {

  /** Sorted (path, length, modification time) of every input file. */
  type Fingerprint = Seq[(String, Long, Long)]

  private[operators] val MaxEntries = 24
  private val MaxRetiredOwned = 32

  private final case class Entry(
    kind: String,
    session: SparkSession,
    plans: Seq[LogicalPlan],
    paths: Seq[String],
    files: Fingerprint,
    dfs: Seq[DataFrame],
    value: Any,
    owned: Seq[(org.apache.hadoop.conf.Configuration, String)])

  // accessOrder = true: get() moves an entry to the tail, so the head
  // is the least-recently-used entry. Also the lock for all state below.
  private val entries =
    new java.util.LinkedHashMap[(String, Int, Int, Int, Int), Entry](
      16, 0.75f, true)
  private val retiredOwned = scala.collection.mutable.Queue
    .empty[(org.apache.hadoop.conf.Configuration, String)]
  // kind -> (hits, misses) since the JVM started
  private val counts = scala.collection.mutable.Map.empty[String, (Long, Long)]

  /** One kind's lookups since the JVM started, and the bytes its live
    * entries' cached relations hold now (memory plus disk). */
  final case class KindStats(kind: String, hits: Long, misses: Long,
                             residentBytes: Long)

  /** Lookups served from the memo since the JVM started. */
  def hits: Long = entries.synchronized(counts.values.map(_._1).sum)

  /** Lookups that built their relation since the JVM started. */
  def misses: Long = entries.synchronized(counts.values.map(_._2).sum)

  /** [[KindStats]] of every kind looked up since the JVM started, by
    * kind. Reading the storage info runs no Spark job. */
  def byKind: Seq[KindStats] = entries.synchronized {
    import scala.jdk.CollectionConverters._
    val live = entries.values.asScala.toSeq
    val stored = live.map(_.session).distinct.flatMap { s =>
      try s.sparkContext.getRDDStorageInfo.map(i => i.id -> (i.memSize + i.diskSize))
      catch { case _: Throwable => Nil } // a stopped session stores nothing
    }.toMap
    counts.toSeq.sortBy(_._1).map { case (kind, (h, m)) =>
      KindStats(kind, h, m, live.filter(_.kind == kind)
        .flatMap(_.dfs.flatMap(cachedRddId)).distinct
        .map(stored.getOrElse(_, 0L)).sum)
    }
  }

  /** Bytes the live entries' cached relations hold now. */
  def residentBytes: Long = byKind.map(_.residentBytes).sum

  /** The id of the RDD that holds `df`'s cached blocks, once it is built. */
  private def cachedRddId(df: DataFrame): Option[Int] =
    try df.sparkSession.sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .map(_.cachedRepresentation.cacheBuilder)
      .filter(_.isCachedColumnBuffersLoaded)
      .map(_.cachedColumnBuffers.id)
    catch { case _: Throwable => None }

  /** The input files `df` reads: every file the analyzed plan's
    * `HadoopFsRelation`s list, taken from the file index's own listing
    * (no filesystem call for the in-memory index a path read builds). */
  def fingerprint(df: DataFrame): Fingerprint =
    df.queryExecution.analyzed.collectWithSubqueries {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.location
    }.flatMap {
      case idx: PartitioningAwareFileIndex => idx.allFiles()
      case idx => idx.listFiles(Nil, Nil).flatMap(_.files.map(_.fileStatus))
    }.map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
      .distinct.sorted

  /** A 16-hex-digit name for `df`'s [[fingerprint]], for stores that
    * persist a relation across JVMs under its input's snapshot. */
  def snapshotId(df: DataFrame): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(fingerprint(df).map { case (p, l, m) => s"$p|$l|$m" }
        .mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)

  /** The shared relation `build` makes from `input`, built once per
    * (kind, input, a, b) and snapshot, persisted MEMORY_AND_DISK. */
  def apply(kind: String, input: DataFrame, a: Int, b: Int)
           (build: => DataFrame): DataFrame =
    group(kind, Seq(input), a, b)(
      Seq(build.persist(StorageLevel.MEMORY_AND_DISK))).head

  /** [[apply]] for a construction that yields several relations at
    * once, from one input or several; they are stored as built (no
    * persist). */
  def group(kind: String, inputs: Seq[DataFrame], a: Int, b: Int)
           (build: => Seq[DataFrame]): Seq[DataFrame] = {
    val session = inputs.head.sparkSession
    require(inputs.forall(_.sparkSession eq session),
      s"$kind: inputs from different sessions")
    lookup(kind, session, inputs.map(_.queryExecution.analyzed), Nil,
      inputs.flatMap(fingerprint).distinct.sorted, a, b)((build, ())).dfs
  }

  /** The driver-side value `build` makes from the files under `paths`,
    * built once per (kind, paths) and snapshot of those files
    * ([[filesUnder]]). A hit builds no relation and runs no Spark job:
    * it costs the listing. */
  def value[T](kind: String, spark: SparkSession, paths: Seq[String])
              (build: => T): T =
    lookup(kind, spark, Nil, paths, filesUnder(spark, paths), 0, 0)(
      (Nil, build)).value.asInstanceOf[T]

  /** Every file under `paths` (a path that names a file is that file; a
    * directory contributes its files at any depth; a missing path
    * nothing), listed with the paths' own Hadoop file systems. */
  def filesUnder(spark: SparkSession, paths: Seq[String]): Fingerprint = {
    val conf = spark.sparkContext.hadoopConfiguration
    def walk(fs: org.apache.hadoop.fs.FileSystem,
             st: org.apache.hadoop.fs.FileStatus): Seq[org.apache.hadoop.fs.FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(walk(fs, _))
      else Seq(st)
    paths.flatMap { p =>
      val path = new org.apache.hadoop.fs.Path(p)
      val fs = path.getFileSystem(conf)
      try walk(fs, fs.getFileStatus(path))
      catch { case _: java.io.FileNotFoundException => Nil }
    }.map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
      .distinct.sorted
  }

  private def lookup(kind: String, session: SparkSession, plans: Seq[LogicalPlan],
                     paths: Seq[String], files: Fingerprint, a: Int, b: Int)
                    (build: => (Seq[DataFrame], Any)): Entry =
    entries.synchronized {
      val key = (kind, scala.util.hashing.MurmurHash3.orderedHash(
        plans.map(_.semanticHash()) ++ paths.map(_.##)),
        System.identityHashCode(session), a, b)
      def tally(hit: Boolean): Unit = {
        val (h, m) = counts.getOrElse(kind, (0L, 0L))
        counts(kind) = if (hit) (h + 1, m) else (h, m + 1)
      }
      Option(entries.get(key))
        .filter(e => (e.session eq session) && e.files == files &&
          e.paths == paths && e.plans.corresponds(plans)(_ sameResult _))
        .map { e => tally(hit = true); e }
        .getOrElse {
          tally(hit = false)
          // a hash collision, a dead session or an older snapshot
          // under this exact key: retire it before rebuilding
          Option(entries.remove(key)).foreach(retire)
          if (entries.size >= MaxEntries) {
            val it = entries.entrySet().iterator()
            if (it.hasNext) { val ev = it.next(); it.remove(); retire(ev.getValue) }
          }
          val before = Checkpoints.snapshotOneShots()
          val (dfs, value) = build
          val e = Entry(kind, session, plans, paths, files, dfs, value,
            Checkpoints.claimOneShots(before, sameThreadOnly = true))
          entries.put(key, e)
          e
        }
    }

  /** Drop every entry and delete every claimed checkpoint directory,
    * including those earlier retirements deferred. Call at a snapshot
    * boundary where no consumer of a returned relation is in flight;
    * every query then runs at its standalone, zero-residency cost. */
  def clear(): Unit = entries.synchronized {
    entries.values.forEach(retire(_))
    entries.clear()
    retiredOwned.foreach(deleteQuietly)
    retiredOwned.clear()
  }

  /** Unpersist now; defer the claimed directories (oldest beyond the
    * bound deleted). Best effort: the entry may belong to a stopped
    * session, and that must not fail the query whose miss retires it. */
  private def retire(e: Entry): Unit = {
    e.dfs.foreach(df => try df.unpersist() catch { case _: Throwable => () })
    retiredOwned ++= e.owned
    while (retiredOwned.size > MaxRetiredOwned)
      deleteQuietly(retiredOwned.dequeue())
  }

  private def deleteQuietly(
      dir: (org.apache.hadoop.conf.Configuration, String)): Unit =
    try Checkpoints.deleteCheckpointDir(dir._1, dir._2)
    catch { case _: Throwable => () }
}
