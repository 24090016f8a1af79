package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming corpus curation: the q65 rule filter → exact dedup →
  * q60 chunking, as one Structured Streaming pipeline over a streaming
  * `(doc_id, text)` relation. The batch battery proves each operator's
  * semantics against the DuckDB oracle; this wires the same logic into
  * `readStream`-shaped ingestion (a training-data firehose: keep quality
  * docs, drop exact repeats ACROSS micro-batches, emit context-window
  * chunks).
  *
  * State note: [[curate]]'s `dropDuplicates` on the content hash keeps
  * one state row per distinct retained document — exact global dedup,
  * unbounded state. [[curateBounded]] is the production default for an
  * unbounded feed: an ingest-time watermark +
  * `dropDuplicatesWithinWatermark` expires old hashes, trading global
  * for windowed exactness (the same trade RtStream's windowed stats
  * make) — a document re-ingested after the horizon is admitted again. */
object DocStream {

  /** Executor-memory-bounded streaming state: the watermark bounds
    * the number of state ROWS, but Spark's default HDFS-backed provider
    * keeps every row on-heap per executor — at horizon-scale throughput
    * (the 100 TB firehose this pipeline targets) dedup state alone would
    * bound executor memory. The bundled RocksDB provider keeps state on
    * local disk with an in-memory working set; wire it with
    * `spark.conf.set(StateStoreProviderKey, RocksDbStateStoreProvider)`
    * before starting the query. DocStreamSpec runs the bounded-dedup
    * expiry contract under BOTH providers — the choice changes memory
    * residency, never results. */
  val StateStoreProviderKey = "spark.sql.streaming.stateStore.providerClass"
  val RocksDbStateStoreProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def ruleFilteredHashed(docs: DataFrame): DataFrame =
    docs
      .withColumn("reason_mask", graft.operators.PipelineQueries.ruleMask)
      .filter(col("reason_mask") === 0)
      .withColumn("h", md5(col("text")))

  private def chunked(docs: DataFrame, chunkTokens: Int, stride: Int): DataFrame = {
    val tk = split(col("text"), " ")
    docs
      .withColumn("s", explode(sequence(lit(1), size(tk), lit(stride))))
      .select(col("doc_id"),
        ((col("s") - 1) / stride).cast("long").as("chunk_id"),
        concat_ws(" ", slice(tk, col("s"), lit(chunkTokens))).as("chunk_text"))
  }

  /** Exact global dedup — state grows with the distinct corpus; use for
    * bounded backfills. */
  def curate(docs: DataFrame, chunkTokens: Int = 32, stride: Int = 24): DataFrame =
    chunked(ruleFilteredHashed(docs).dropDuplicates("h"), chunkTokens, stride)

  /** Bounded-state curation for unbounded feeds: `docs` must carry an
    * event-time column `ts`; content hashes expire once the watermark
    * passes their event time + `watermarkDelay`, so state is bounded by
    * the horizon's document throughput instead of the corpus. */
  def curateBounded(docs: DataFrame, watermarkDelay: String,
                    chunkTokens: Int = 32, stride: Int = 24): DataFrame =
    chunked(
      ruleFilteredHashed(docs)
        .withWatermark("ts", watermarkDelay)
        .dropDuplicatesWithinWatermark("h"),
      chunkTokens, stride)

  /** Streaming distinct-count sketch — q74's streaming twin: one KMV
    * sketch per source carried across micro-batches in
    * `mapGroupsWithState` (state ≤ k hash values per source forever; a
    * streaming `approx_count_distinct` agg cannot emit per-trigger
    * running estimates in update mode without a watermark, and exact
    * streaming distinct state grows with the universe). The caller
    * pre-hashes values to [0, M) with the same portable multiplicative
    * hash q74 uses, so the estimator (k−1)·M/h_k — or n_kept exactly
    * when below k — is reproducible offline from the emitted
    * (n_kept, kth_min) pair. Same distinct-hash-collision caveat as
    * [[graft.functions.KmvSketch]]. */
  def distinctSketchStream(hashed: DataFrame, k: Int = 256): DataFrame = {
    val spark = hashed.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val agg = new graft.functions.KmvSketch(k)
    hashed.select(col("source"), col("h")).as[(String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[Array[Long], (String, Int, Long)](
        GroupStateTimeout.NoTimeout) { (src, rows, state) =>
          val merged = rows.foldLeft(state.getOption.getOrElse(agg.zero)) {
            (b, r) => agg.reduce(b, r._2)
          }
          state.update(merged)
          val (nKept, kthMin) = agg.finish(merged)
          (src, nKept, kthMin)
        }
      .toDF("source", "n_kept", "kth_min")
  }

  /** Streaming heavy-hitter tracking — q77's streaming twin: one
    * Misra-Gries summary per source carried across micro-batches in
    * `mapGroupsWithState`, so state is ≤ 2k counters per source FOREVER,
    * independent of stream length (contrast: a streaming groupBy(token)
    * count grows state with the vocabulary). Each trigger folds the
    * batch's tokens into the stored summary with the same reduce the
    * batch aggregator uses, then re-emits the source's current summary
    * (update output mode).
    *
    * Emitted rows are (source, token, lower_bound) with the batch
    * operator's candidate-superset contract: every token whose
    * stream-so-far count exceeds m/(k+1) is present, counters are lower
    * bounds — a consumer needing exact counts closes the gap with a
    * recount over the flagged tokens, exactly like q77's verify pass. */
  def heavyHitterStream(tokens: DataFrame, k: Int = 64): DataFrame = {
    val spark = tokens.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val agg = new graft.functions.MisraGries(k)
    tokens.select(col("source"), col("token")).as[(String, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[Map[String, Long], (String, Map[String, Long])](
        GroupStateTimeout.NoTimeout) { (src, rows, state) =>
          val merged = rows.foldLeft(state.getOption.getOrElse(agg.zero)) {
            (b, r) => agg.reduce(b, r._2)
          }
          state.update(merged)
          (src, merged)
        }
      .toDF("source", "counters")
      .select(col("source"),
        explode(col("counters")).as(Seq("token", "lower_bound")))
  }

  /** Streaming BM25 index maintenance — q126's streaming twin: keep the
    * retrieval index ([[graft.operators.CurationQueries.Bm25Index]])
    * fresh as documents arrive, without the scheduled full rebuild (the
    * CurveStream discipline applied to retrieval). Each micro-batch
    * writes three IDEMPOTENT batch-keyed partitions:
    *   `tf/batch_id=N` — the batch's postings (doc_id, dl, token, tf);
    *   `dfd/batch_id=N` — the batch's df DELTA (token, df);
    *   `tot/batch_id=N` — the batch's (n_docs, s_tokens) row.
    * Document frequencies and totals are ADDITIVE across batches as
    * long as a document never spans batches (each doc's postings, dl
    * and df contribution ride one batch), so [[loadBm25Index]] folds
    * the deltas at load time. A replayed batch OVERWRITES its own
    * partition — exactly-once index contents under foreachBatch's
    * at-least-once replay, with no read-modify-write of shared state in
    * the hot path (contrast UpsertSink's keyed merge, which pays a read
    * of the touched partitions per batch; pure partition overwrites are
    * the cheaper discipline when deltas are additive).
    *
    * `autoCompactEvery > 0` wires the [[autoCompact]] cadence in: once
    * that many uncompacted dfd deltas accumulate, the sink runs
    * [[compactBm25Index]] before returning — between batches of the
    * single-writer stream, so the quiet-boundary contract holds with no
    * manual compaction call; load wall and file count stay bounded
    * however many batches the stream runs. */
  def bm25IndexSink(path: String, autoCompactEvery: Int = 0)
  : (DataFrame, Long) => Unit = (batch, batchId) => {
    graft.operators.Checkpoints.releasingScoped {
      // a replay at or below the compaction watermark is a no-op: the
      // watermark only ever covers fully-committed sinks (foreachBatch
      // runs batches sequentially, so a folded dfd implies the whole
      // batch committed), and re-writing dfd would double-count against
      // the snapshot
      if (!compactedThrough(batch.sparkSession, path).exists(batchId <= _)) {
        // buildBm25Index one-shot-truncates the tf relation; with a
        // reliable checkpoint dir configured a long-running stream would
        // otherwise accumulate one directory per micro-batch.
        // The scoped release deletes exactly this batch's checkpoints
        // once the three writes below have consumed them.
        val idx = graft.operators.CurationQueries.buildBm25Index(batch)
        // dfd MUST commit LAST: compaction keys its watermark off the
        // dfd partitions, so "dfd present" has to imply the batch's tf
        // and tot also committed — otherwise a crash between the writes
        // followed by a restart-time compaction would advance the
        // watermark past a batch whose totals never landed, and the
        // skip guard above would then suppress the replay that could
        // repair it (undercounting n_docs/s_tokens forever).
        idx.tf.write.mode("overwrite").parquet(s"$path/tf/batch_id=$batchId")
        idx.totals.write.mode("overwrite").parquet(s"$path/tot/batch_id=$batchId")
        idx.df.write.mode("overwrite").parquet(s"$path/dfd/batch_id=$batchId")
      }
    }
    autoCompact(batch.sparkSession, autoCompactEvery, s"$path/dfd",
      compactedThrough(batch.sparkSession, path).getOrElse(-1L)) {
      compactBm25Index(batch.sparkSession, path)
    }
  }

  // ── streamed-index store plumbing (shared by the BM25 and
  // prefix-dedup maintenance sinks): batch-keyed delta directories,
  // a compaction watermark marker, Hadoop-FS portable ──

  private[streaming] def fsOf(spark: org.apache.spark.sql.SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (id, dir) for every `<prefix>=N` child of `dir` (absent dir = none). */
  private[streaming] def keyedDirs(spark: org.apache.spark.sql.SparkSession,
                        dir: String, prefix: String)
  : Seq[(Long, org.apache.hadoop.fs.Path)] = {
    val fs = fsOf(spark, dir)
    val d = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).toSeq.filter(_.isDirectory).flatMap { st =>
      val nm = st.getPath.getName
      if (nm.startsWith(prefix + "="))
        scala.util.Try(nm.stripPrefix(prefix + "=").toLong).toOption
          .map(_ -> st.getPath)
      else None
    }
  }

  private[streaming] def batchDirs(spark: org.apache.spark.sql.SparkSession, dir: String) =
    keyedDirs(spark, dir, "batch_id")

  private[graft] def readLongMarker(spark: org.apache.spark.sql.SparkSession,
                             path: String, name: String): Option[Long] = {
    val fs = fsOf(spark, path)
    val m = new org.apache.hadoop.fs.Path(s"$path/$name")
    if (!fs.exists(m)) None
    else {
      val in = fs.open(m)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong)
      finally in.close()
    }
  }

  /** Crash-atomic marker write: the value lands in a dot-prefixed temp
    * file and is renamed over the destination (FileContext OVERWRITE —
    * atomic on local and HDFS). An in-place truncating create would
    * leave an empty/partial marker if the writer died mid-write,
    * bricking every reader ([[compactedThrough]] runs per micro-batch)
    * until hand-repair. */
  private[streaming] def writeLongMarker(spark: org.apache.spark.sql.SparkSession,
                              path: String, name: String, v: Long): Unit = {
    val fs = fsOf(spark, path)
    val dst = new org.apache.hadoop.fs.Path(s"$path/$name")
    val tmp = new org.apache.hadoop.fs.Path(s"$path/.$name.tmp")
    val out = fs.create(tmp, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    org.apache.hadoop.fs.FileContext
      .getFileContext(fs.getUri, spark.sparkContext.hadoopConfiguration)
      .rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** The compaction watermark: every batch id ≤ it is folded into the
    * `through=<w>` snapshot directories and its delta partitions are
    * retired. Written AFTER the snapshot commits, so a crash between
    * the two leaves the old, still-consistent state. */
  def compactedThrough(spark: org.apache.spark.sql.SparkSession,
                       path: String): Option[Long] =
    readLongMarker(spark, path, "_compacted_through")

  /** Delta-volume auto-compaction cadence: run
    * `compact` when the number of uncompacted delta batches under
    * `deltaDir` (ids above the store's current watermark `floor`)
    * reaches `every`; `every = 0` disables. Invoked by the sinks AFTER
    * their own batch commits, INSIDE the foreachBatch call — the
    * single-writer stream is between batches at that point, so the
    * compactors' quiet-boundary contract holds by construction and a
    * deployment on the reference's 5 s trigger never needs an operator
    * to intervene.
    *
    * The trigger counts DELTA DIRS, not `batchId % every`: a modulo
    * fires on replayed batch ids (double compaction after every
    * restart), drifts when batches are empty, and goes quiet forever if
    * the trigger id itself is what keeps crashing; the dir count is
    * exactly the quantity load cost grows with, holds across restarts,
    * and costs one listing per batch (already paid by the sinks'
    * skip/exclude reads). Crashed batches' leftover dirs above the
    * floor count too — harmless: compaction folds only committed
    * batches and the next cadence check re-fires until the replay
    * lands. `floor` is BY-NAME: with the cadence off (every = 0) the
    * sinks must not pay its marker reads per batch (1-2 GETs per
    * trigger on an object store, for a disabled feature). */
  private[streaming] def autoCompact(spark: org.apache.spark.sql.SparkSession,
                                     every: Int, deltaDir: String,
                                     floor: => Long)(compact: => Unit): Unit =
    if (every > 0) {
      val f = floor // bind once: by-name in the count lambda would re-read
      if (batchDirs(spark, deltaDir).count(_._1 > f) >= every) compact
    }

  private[streaming] def hasDataFile(fs: org.apache.hadoop.fs.FileSystem,
                          p: org.apache.hadoop.fs.Path): Boolean =
    fs.listStatus(p).exists(st => st.isFile && {
      val nm = st.getPath.getName
      !nm.startsWith("_") && !nm.startsWith(".")
    })

  /** `batch_id > floor` delta partitions under `dir` that actually
    * hold data (an EMPTY batch's delta may commit only a _SUCCESS
    * marker, and parquet fails schema inference on a file-less dir). */
  private[streaming] def dataBatchDirs(spark: org.apache.spark.sql.SparkSession,
                            dir: String, floor: Long,
                            exclude: Option[Long] = None)
  : Seq[(Long, org.apache.hadoop.fs.Path)] = {
    val fs = fsOf(spark, dir)
    batchDirs(spark, dir)
      .filter(_._1 > floor).filterNot(p => exclude.contains(p._1))
      .filter { case (_, p) => hasDataFile(fs, p) }
  }

  /** One `listStatus` per `batch_id=N` partition under `dir`:
    * (id, hasData, hasSuccess). The single pass serves both the
    * data-bearing and the commit-evidence questions — no per-partition
    * `exists` round-trips on top of the listing (object-store
    * deployments pay per RPC). */
  private[streaming] def batchStates(spark: org.apache.spark.sql.SparkSession,
                                     dir: String)
  : Seq[(Long, Boolean, Boolean)] = {
    val fs = fsOf(spark, dir)
    batchDirs(spark, dir).map { case (id, p) =>
      val st = fs.listStatus(p)
      val data = st.exists(s => s.isFile && {
        val nm = s.getPath.getName
        !nm.startsWith("_") && !nm.startsWith(".")
      })
      (id, data, st.exists(s => s.getPath.getName == "_SUCCESS"))
    }
  }

  /** Batch ids whose `batch_id=N` partition under `dir` carries the
    * committer's `_SUCCESS` marker (data-bearing or legitimately
    * empty). */
  private[streaming] def successIds(spark: org.apache.spark.sql.SparkSession,
                                    dir: String): Set[Long] =
    batchStates(spark, dir).collect { case (id, _, true) => id }.toSet

  /** Batch ids > `floor` that are FULLY COMMITTED as a batch: the
    * `triggerSub` partition has data files AND EVERY subdir in `subs`
    * carries `_SUCCESS`. Two failure modes make anything weaker unsafe
    * as compaction-watermark evidence:
    *
    *  - [[hasDataFile]] alone: a writer dying MID-job-commit (part
    *    files moved, `_SUCCESS` absent) leaves a data-bearing PARTIAL
    *    partition — folding it as complete and advancing the watermark
    *    suppresses the repairing replay forever;
    *  - `_SUCCESS` on the last-written subdir alone: a REPLAY of a
    *    fully-written-but-uncheckpointed batch first `overwrite`s the
    *    earlier subdirs — the committer deletes the old partition at
    *    job start — so a crash mid-replay leaves an earlier subdir
    *    absent/partial while the last subdir still carries attempt 1's
    *    stale marker. Batch-level evidence (ALL subdirs marked) makes
    *    both states read as uncommitted, and the replay repairs them.
    *
    * `_SUCCESS` is written last by the committer and requires the
    * default `mapreduce.fileoutputcommitter.marksuccessfuljobs=true` —
    * [[requireSuccessMarkers]] fail-fasts otherwise. The LOADERS
    * intentionally stay on [[dataBatchDirs]]: reading a partial delta
    * is bounded one-batch staleness the replay overwrites, while
    * missing a complete one would hide docs. */
  private[streaming] def committedBatchIds(
      spark: org.apache.spark.sql.SparkSession, path: String,
      subs: Seq[String], triggerSub: String, floor: Long): Seq[Long] = {
    val states = subs.map(s => s -> batchStates(spark, s"$path/$s")).toMap
    val marked = states.values
      .map(_.collect { case (id, _, true) => id }.toSet)
      .reduce(_ intersect _)
    states(triggerSub)
      .collect { case (id, true, _) if id > floor => id }
      .filter(marked)
  }

  /** Fail fast when the deployment disabled `_SUCCESS` markers: with
    * them off, NO batch can ever present commit evidence, and the
    * compactors' nothing-new branch would read every fully-committed,
    * checkpoint-acknowledged delta as a crashed leftover and DELETE it
    * — silent permanent loss. An error at compaction entry turns the
    * misconfiguration into a diagnosis. */
  private[streaming] def requireSuccessMarkers(
      spark: org.apache.spark.sql.SparkSession): Unit =
    require(spark.sparkContext.hadoopConfiguration.getBoolean(
      "mapreduce.fileoutputcommitter.marksuccessfuljobs", true),
      "streamed-store compaction needs _SUCCESS markers as commit " +
        "evidence: re-enable mapreduce.fileoutputcommitter." +
        "marksuccessfuljobs before compacting")

  /** The versioned-base compaction SKELETON shared by the prefix-dedup
    * and ANN stores (the BM25 store keeps its own: it compacts into
    * `through=` snapshots, not a rebuilt `basev=`). One definition so
    * the crash-ordering discipline cannot diverge between stores:
    *
    *  - the replay watermark `w` keys off BATCH-LEVEL commit evidence
    *    ([[committedBatchIds]]: `commitSub` data-bearing and EVERY
    *    delta subdir `_SUCCESS`-marked), so a batch visible to `w` is
    *    fully committed in every relation. Anything weaker loses data:
    *    max(all dirs) advances past a mid-write crash; last-subdir
    *    `_SUCCESS` alone advances past a crashed REPLAY whose
    *    overwrite regressed an earlier subdir while the stale marker
    *    survived — either way the repairing replay's deltas land
    *    at-or-below the watermark, invisible to every load and retired
    *    by the next compaction;
    *  - nothing-new-committed finishes any crashed retirement and
    *    keeps the base (deleting a crashed batch's partial deltas is
    *    safe: its streaming commit never landed, so the replay
    *    rewrites every partition from scratch);
    *  - `rebuild(v, floor, w)` writes the new `basev=v+1` relations —
    *    it MUST bound any delta fold by `(floor, w]` (a crashed sink
    *    can leave a delta ABOVE w in an earlier-written subdir;
    *    folding it while the watermark stays at w would bake the batch
    *    in AND let its replay fold again — duplicates). Within
    *    `(floor, w]` every partition is complete — `w`'s evidence
    *    covers all subdirs — so folds may read [[dataBatchDirs]];
    *  - `_folded_through` commits inside the new base BEFORE
    *    `_base_version` flips readers over; retirement (folded deltas
    *    `≤ w` + superseded bases) happens after, so every crash
    *    interleaving reads a consistent index (spec-pinned in
    *    PrefixStreamSpec and AnnStreamSpec, both directions).
    *
    * Readers: the quiet-boundary contract covers the single WRITER; a
    * separate reader process whose lazily-loaded index spans a
    * compaction can hit retired paths — [[loadBm25Index]]'s
    * reader/compaction contract applies verbatim to the versioned-base
    * stores. */
  private[streaming] def compactVersionedBase(
      spark: org.apache.spark.sql.SparkSession, path: String,
      deltaSubs: Seq[String], commitSub: String)(
      rebuild: (Long, Long, Long) => Unit): Unit = {
    requireSuccessMarkers(spark)
    val folded = deltaSubs.flatMap(s => batchDirs(spark, s"$path/$s"))
    if (folded.isEmpty) return
    val v = readLongMarker(spark, path, "_base_version").getOrElse(0L)
    val floor = readLongMarker(spark, s"$path/basev=$v", "_folded_through")
      .getOrElse(Long.MinValue)
    val fs = fsOf(spark, path)
    val committed =
      committedBatchIds(spark, path, deltaSubs, commitSub, floor)
    if (committed.isEmpty) {
      // before treating everything as crashed leftovers: under the
      // single-writer sequential contract AT MOST ONE batch above the
      // floor can be mid-crash (markerless-but-data-bearing across all
      // its subdirs). Two or more means the store's history was written
      // with _SUCCESS markers DISABLED — deleting those deltas would
      // destroy checkpoint-acknowledged data the stream will never
      // replay. Refuse instead (the flag-only check above cannot catch
      // a store whose config was fixed after the fact).
      val states = deltaSubs.map(s => batchStates(spark, s"$path/$s"))
      val anyMark = states.flatMap(_.collect { case (id, _, true) => id })
        .toSet
      val markerless = states.flatMap(_.collect {
        case (id, true, _) if id > floor && !anyMark(id) => id
      }).distinct
      require(markerless.size <= 1,
        s"${markerless.size} data-bearing delta batches under $path carry " +
          "no _SUCCESS marker in any relation — this store's history " +
          "looks written with marksuccessfuljobs=false; refusing to " +
          "retire them as crash leftovers")
      folded.foreach { case (_, p) => fs.delete(p, true) }
      keyedDirs(spark, path, "basev").filter(_._1 < v)
        .foreach { case (_, p) => fs.delete(p, true) }
      return
    }
    val w = committed.max
    rebuild(v, floor, w)
    writeLongMarker(spark, s"$path/basev=${v + 1}", "_folded_through", w)
    writeLongMarker(spark, path, "_base_version", v + 1)
    folded.filter(_._1 <= w).foreach { case (_, p) => fs.delete(p, true) }
    keyedDirs(spark, path, "basev").filter(_._1 <= v)
      .foreach { case (_, p) => fs.delete(p, true) }
  }

  /** Union of the data-bearing `batch_id > floor` delta partitions
    * under `dir`, optionally excluding one batch (a REPLAYING batch
    * must not see its own half-written prior attempt). None when no
    * such partition. */
  private[streaming] def deltasAfter(spark: org.apache.spark.sql.SparkSession,
                          dir: String, floor: Long,
                          exclude: Option[Long] = None): Option[DataFrame] = {
    val ids = dataBatchDirs(spark, dir, floor, exclude)
    if (ids.isEmpty) None
    else Some(spark.read.parquet(ids.map(_._2.toString): _*))
  }

  /** Load the streamed index: postings come from the consolidated
    * `tfsnap` snapshot (token-clustered — see [[compactBm25Index]])
    * plus the per-batch `tf` partitions past the watermark; df/totals
    * fold their compaction snapshot (if any) with the per-batch deltas
    * past the watermark — a VOCABULARY-sized aggregate over
    * #uncompacted deltas (load-time cost, zero hot-path cost;
    * [[compactBm25Index]] resets it). Scoring against the result is
    * [[graft.operators.CurationQueries.bm25ScoreIndexed]], identical to
    * an offline-built index (spec-pinned).
    *
    * Consistency window (SINK race): the sink commits tf before dfd,
    * so a load racing the writer may see a batch's postings whose
    * df/totals have not landed yet (idf lags by that one in-flight
    * batch; the next load heals it). Bounded by a single batch —
    * inherent to a multi-relation store with no cross-file transaction.
    *
    * Reader/COMPACTION contract: a load must not SPAN a
    * compaction — the returned relations read the snapshot and delta
    * paths lazily, and compaction RETIRES folded deltas and superseded
    * snapshots after committing the new watermark, so an action run
    * against a pre-compaction load after compaction finishes hits
    * FileNotFoundException on the retired paths. Same-process
    * deployments get this for free from the single-writer quiet
    * boundary (the sinks and compactors run in one foreachBatch
    * thread); deployments with SEPARATE reader processes must either
    * re-load after any failed action (the retirement is detectable —
    * the re-load sees the new snapshot) or give compaction a grace
    * period covering the longest in-flight read before it retires old
    * paths. The markers make a generation-count grace trivial: old
    * snapshots are keyed (`through=`/`basev=`), so retirement may
    * simply lag one compaction behind the flip. */
  /** Offline init of the streamed BM25 store — the registry face of the persisted-index deployment: write the
    * corpus as ONE committed batch in the [[bm25IndexSink]] layout,
    * compact it (token-clustered tfsnap, folded df/totals snapshots),
    * and mark the store ready. Idempotent and crash-safe: the ready
    * marker short-circuits re-init to one marker read; a crash
    * mid-init replays through the sink's own watermark/skip guards
    * (batch 0 overwrites its partitions, compaction against an
    * already-compacted store only finishes retirement). The store is
    * keyed by [[graft.operators.SharedRelations.snapshotId]] of the
    * corpus (every file's path, length and mtime), the memo's snapshot
    * rule, so a regenerated corpus can never probe a stale index.
    * Returns the store path for [[loadBm25Index]]. A probe query against the result is
    * bm25ScoreIndexed — identical relations to an offline build
    * (spec-pinned), but the per-query-batch cost is probe-shaped: no
    * corpus aggregation, just the broadcast term set against the
    * token-clustered postings. */
  def initBm25Store(spark: org.apache.spark.sql.SparkSession, sfDir: String,
                    storeRoot: String = sys.env.getOrElse(
                      "SPARK_GRAFT_STORE_DIR", "spark-warehouse/stores"))
  : String = {
    val documents = graft.sources.Tables.documents(spark, sfDir)
    val key = graft.operators.SharedRelations.snapshotId(documents)
    val path = s"$storeRoot/bm25/$key"
    if (readLongMarker(spark, path, "_store_ready").isEmpty) {
      bm25IndexSink(path)(documents, 0L)
      compactBm25Index(spark, path)
      writeLongMarker(spark, path, "_store_ready", 1L)
    }
    path
  }

  def loadBm25Index(spark: org.apache.spark.sql.SparkSession,
                    path: String): graft.operators.CurationQueries.Bm25Index = {
    // ONE marker read per load: snapshot choice and delta floor must
    // come from the same observation, or a compaction advancing the
    // marker mid-load would double-count deltas into the new snapshot
    val floor = compactedThrough(spark, path).getOrElse(-1L)
    // (snapshotOnly, relation): when a compacted store has no deltas
    // past the watermark, the snapshot is already aggregated and the
    // callers below skip their fold — no per-load shuffle for a no-op
    def folded(deltaSub: String, snapSub: String): (Boolean, DataFrame) = {
      val snap =
        if (floor < 0) None
        else Some(spark.read.parquet(s"$path/$snapSub/through=$floor"))
      val deltas = deltasAfter(spark, s"$path/$deltaSub", floor)
        .map(_.drop("batch_id")).toSeq
      val parts = snap.toSeq ++ deltas
      require(parts.nonEmpty, s"no $deltaSub deltas or snapshot under $path")
      (snap.isDefined && deltas.isEmpty, parts.reduce(_.unionByName(_)))
    }
    val tfSnap = tfSnapAt(spark, path, floor)
    val tfParts = tfSnap.toSeq ++
      dataBatchDirs(spark, s"$path/tf",
        if (tfSnap.isDefined) floor else Long.MinValue)
        .map(_._2.toString)
    require(tfParts.nonEmpty, s"no tf postings under $path")
    val (dfOnly, dfRel) = folded("dfd", "dfsnap")
    val (totOnly, totRel) = folded("tot", "totsnap")
    graft.operators.CurationQueries.Bm25Index(
      spark.read.parquet(tfParts: _*)
        .select(col("doc_id"), col("dl"), col("token"), col("tf")),
      if (dfOnly) dfRel
      else dfRel.groupBy(col("token")).agg(sum(col("df")).as("df")),
      if (totOnly) totRel
      else totRel.agg(sum(col("n_docs")).as("n_docs"),
        sum(col("s_tokens")).as("s_tokens")))
  }

  /** The consolidated-postings snapshot path at watermark `floor`, if
    * present. Absent on a never-compacted store AND on one compacted
    * by a pre-consolidation build (whose tf batch dirs are all still on
    * disk — callers fall back to reading every batch dir). */
  private def tfSnapAt(spark: org.apache.spark.sql.SparkSession,
                       path: String, floor: Long): Option[String] = {
    val p = s"$path/tfsnap/through=$floor"
    if (floor >= 0 &&
        fsOf(spark, path).exists(new org.apache.hadoop.fs.Path(p))) Some(p)
    else None
  }

  /** Compact the streamed BM25 index: fold the
    * df/totals deltas accumulated since the last watermark into fresh
    * `through=<w>` snapshots, CONSOLIDATE the posting (`tf`) partitions
    * into a token-clustered `tfsnap` snapshot, commit the watermark,
    * retire the folded partitions (and the superseded snapshots) — so
    * [[loadBm25Index]]'s fold cost resets to one snapshot + the deltas
    * that arrived after, instead of growing with total batch count.
    *
    * The tf consolidation is the small-files half of the story: a
    * micro-batch stream otherwise accumulates one postings directory
    * per batch FOREVER — after months that is tens of thousands of
    * directories to list and tiny files to open per load, the classic
    * streaming-ingest death at scale. The rewrite also repartitions by
    * token and sorts within partitions, so a query's posting probe
    * prunes parquet row groups by token min/max instead of scanning
    * every batch's files (the CorpusStore co-location discipline
    * applied to the streamed store). It costs one pass over the index
    * body per compaction — run at posting-volume cadence, not per
    * batch.
    *
    * Crash-ordered: the watermark keys off the `dfd`
    * partitions, which the sink commits LAST — so a batch visible to
    * the watermark is a fully-committed batch, and a sink that died
    * mid-batch leaves deltas ABOVE the new watermark which the bounded
    * fold here ignores (its replay repairs them). Snapshot writes
    * commit BEFORE the marker, retirement happens after, and the load
    * path filters deltas by `batch_id > watermark`, so every
    * interleaving reads a consistent index. A replayed batch at or
    * below the watermark is skipped by [[bm25IndexSink]] (its
    * contribution already sits in the snapshot). No-op when nothing new
    * arrived since the last compaction. */
  def compactBm25Index(spark: org.apache.spark.sql.SparkSession,
                       path: String): Unit = {
    requireSuccessMarkers(spark)
    val floor = compactedThrough(spark, path).getOrElse(-1L)
    // only FULLY COMMITTED batches count: dfd data-bearing (an empty
    // batch's partition is a _SUCCESS-only dir) AND all three delta
    // subdirs _SUCCESS-marked — batch-level evidence, so neither a
    // mid-job-commit partial nor a crashed replay that regressed tf or
    // tot under dfd's stale marker can be folded as complete (see
    // committedBatchIds). Compaction against nothing new just
    // finishes any crashed retirement (partitions the snapshots
    // already absorbed, empty-batch leftovers, superseded snapshots)
    val newIds = committedBatchIds(spark, path,
      Seq("tf", "tot", "dfd"), "dfd", floor)
    if (newIds.isEmpty) {
      val fs = fsOf(spark, path)
      // tf dirs <= floor are retirable ONLY when a consolidated
      // snapshot holds their postings — on a store last compacted by a
      // pre-consolidation build they are the only copy
      val swept = Seq("dfd", "tot") ++
        (if (tfSnapAt(spark, path, floor).isDefined) Seq("tf") else Nil)
      swept.foreach { s =>
        batchDirs(spark, s"$path/$s").filter(_._1 <= floor)
          .foreach { case (_, p) => fs.delete(p, true) }
      }
      Seq("dfsnap", "totsnap", "tfsnap").foreach { s =>
        keyedDirs(spark, s"$path/$s", "through").filter(_._1 < floor)
          .foreach { case (_, p) => fs.delete(p, true) }
      }
      return
    }
    val w = newIds.max
    // fold snapshot(floor) + deltas in (floor, w] ONLY — never the
    // loader's "everything past the floor" view: a crashed sink can
    // leave a tot delta ABOVE w (tot commits before dfd, and w keys off
    // dfd), and folding it while retirement below keeps it on disk
    // would double-count that batch's totals on every later load
    def foldSnap(deltaSub: String, snapSub: String,
                 aggd: DataFrame => DataFrame): Unit = {
      val snap =
        if (floor < 0) None
        else Some(spark.read.parquet(s"$path/$snapSub/through=$floor"))
      val ds = dataBatchDirs(spark, s"$path/$deltaSub", floor)
        .filter(_._1 <= w)
        .map { case (_, p) => spark.read.parquet(p.toString) }
      aggd((snap.toSeq ++ ds).reduce(_.unionByName(_)))
        .write.mode("overwrite").parquet(s"$path/$snapSub/through=$w")
    }
    foldSnap("dfd", "dfsnap",
      _.groupBy(col("token")).agg(sum(col("df")).as("df")))
    foldSnap("tot", "totsnap",
      _.agg(sum(col("n_docs")).as("n_docs"),
        sum(col("s_tokens")).as("s_tokens")))
    // consolidate postings: old tfsnap (if any; a pre-consolidation
    // store has none and all its tf batch dirs are still on disk) plus
    // the batch dirs in scope, rewritten token-clustered
    val tfSnap = tfSnapAt(spark, path, floor)
    val tfParts = tfSnap.toSeq ++
      dataBatchDirs(spark, s"$path/tf",
        if (tfSnap.isDefined) floor else Long.MinValue)
        .filter(_._1 <= w).map(_._2.toString)
    spark.read.parquet(tfParts: _*)
      .select(col("doc_id"), col("dl"), col("token"), col("tf"))
      .repartition(col("token")).sortWithinPartitions(col("token"))
      .write.mode("overwrite").parquet(s"$path/tfsnap/through=$w")
    writeLongMarker(spark, path, "_compacted_through", w)
    val fs = fsOf(spark, path)
    (batchDirs(spark, s"$path/dfd") ++ batchDirs(spark, s"$path/tot") ++
      batchDirs(spark, s"$path/tf"))
      .filter(_._1 <= w).foreach { case (_, p) => fs.delete(p, true) }
    (keyedDirs(spark, s"$path/dfsnap", "through") ++
      keyedDirs(spark, s"$path/totsnap", "through") ++
      keyedDirs(spark, s"$path/tfsnap", "through"))
      .filter(_._1 < w).foreach { case (_, p) => fs.delete(p, true) }
  }

  // ── streaming PREFIX-INDEX maintenance: the bm25IndexSink
  // discipline applied to the incremental-dedup index, so the q80
  // deployment loop maintains its [[graft.operators.DedupQueries.PrefixIndex]]
  // instead of writing it once ──

  /** Write the base [[graft.operators.DedupQueries.PrefixIndex]] for a
    * corpus snapshot — the ONE-TIME build the stream then maintains.
    * The base `freq.f` is the FROZEN element order every later prefix
    * ranks under (see [[prefixIndexSink]]). Bases are VERSIONED
    * (`basev=<v>` + a `_base_version` marker committed after the
    * relations) so [[compactPrefixIndexStore]] can swap in a rebuilt
    * base without a delete-then-rename window. */
  def initPrefixIndexStore(docs: DataFrame, path: String,
                           threshold: Double): Unit = {
    import graft.operators.{Checkpoints, DedupQueries}
    Checkpoints.releasingScoped {
      writeBase(DedupQueries.buildPrefixIndex(
        DedupQueries.tokenArrays(docs), threshold), path, 0L)
      writeLongMarker(docs.sparkSession, path, "_base_version", 0L)
    }
    // eager element bloom: the first micro-batch must not pay the
    // screen's vocabulary pass (first-trigger latency is part of the
    // composed session's floor)
    buildElementBloom(docs.sparkSession, path,
      loadStreamedPrefixIndex(docs.sparkSession, path))
    ()
  }

  private def writeBase(idx: graft.operators.DedupQueries.PrefixIndex,
                        path: String, v: Long): Unit = {
    idx.freq.write.mode("overwrite").parquet(s"$path/basev=$v/freq")
    idx.entries.write.mode("overwrite").parquet(s"$path/basev=$v/entries")
    idx.arrays.write.mode("overwrite").parquet(s"$path/basev=$v/arrays")
  }

  // ── the entry-element bloom face: a compact,
  // persisted Bloom filter over xxhash64 of the index's DISTINCT entry
  // elements. The sink's lossless pre-screen probes it per batch row;
  // soundness invariant: the persisted bloom is a SUPERSET of the
  // on-disk entry elements (updates land before the entries commit,
  // compaction's order re-freeze deletes it for lazy rebuild) ──

  private[streaming] val ElementBloomFile = "_element_bloom"

  /** Read the persisted element bloom, or build one from the loaded
    * index's entry-element set (freq rows with nf > 0 — exactly the
    * elements that appear in entries, one vocabulary-sized pass) and
    * persist it. Sized with 4× headroom over the current element count
    * so per-batch driver-side puts keep the FPP honest between
    * compactions; outgrowing it only degrades FPP (extra exact work,
    * never a miss). */
  private[streaming] def loadOrBuildElementBloom(
      spark: org.apache.spark.sql.SparkSession, path: String,
      idx: graft.operators.DedupQueries.PrefixIndex): Array[Byte] = {
    val fs = fsOf(spark, path)
    val f = new org.apache.hadoop.fs.Path(s"$path/$ElementBloomFile")
    if (fs.exists(f)) {
      val in = fs.open(f)
      try {
        val bos = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
        bos.toByteArray
      } finally in.close()
    } else buildElementBloom(spark, path, idx)
  }

  /** Build + persist the element bloom from the index's entry-element
    * set (one vocabulary-sized pass). Called off the batch path where
    * possible — at store init and after each compaction re-freeze — so
    * a batch only ever pays it when recovering from a crash between
    * the two. */
  private[streaming] def buildElementBloom(
      spark: org.apache.spark.sql.SparkSession, path: String,
      idx: graft.operators.DedupQueries.PrefixIndex): Array[Byte] = {
    val ev = idx.freq.filter(col("nf") > 0)
      .select(xxhash64(col("s")).as("h")).distinct()
    val bloom = ev.stat.bloomFilter("h",
      math.max(4L * ev.count(), 1L << 16), 0.03)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    val bytes = bos.toByteArray
    writeElementBloom(spark, path, bytes)
    bytes
  }

  /** Fold `newHashes` (the batch's accepted entry-element xxhash64s —
    * batch-dimension-sized, collected) into the bloom and persist it
    * crash-atomically (temp + rename, the marker discipline). */
  private[streaming] def mergeElementBloom(
      spark: org.apache.spark.sql.SparkSession, path: String,
      bytes: Array[Byte], newHashes: Array[Long]): Unit = {
    val bloom = org.apache.spark.util.sketch.BloomFilter
      .readFrom(new java.io.ByteArrayInputStream(bytes))
    newHashes.foreach(bloom.putLong)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    writeElementBloom(spark, path, bos.toByteArray)
  }

  private def writeElementBloom(spark: org.apache.spark.sql.SparkSession,
                                path: String, bytes: Array[Byte]): Unit = {
    val fs = fsOf(spark, path)
    val dst = new org.apache.hadoop.fs.Path(s"$path/$ElementBloomFile")
    val tmp = new org.apache.hadoop.fs.Path(s"$path/.$ElementBloomFile.tmp")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    org.apache.hadoop.fs.FileContext
      .getFileContext(fs.getUri, spark.sparkContext.hadoopConfiguration)
      .rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Compact the stream-maintained dedup index — the
    * [[compactBm25Index]] discipline applied to the prefix store, with
    * one improvement the dedup semantics buy for free: instead of
    * folding deltas under the frozen order, the base is REBUILT from
    * every stored verification array (base ∪ deltas), re-freezing the
    * element order at today's frequencies — exactly the "re-init the
    * base at snapshot cadence" the [[prefixIndexSink]] scaladoc
    * prescribes for prefix-selectivity drift. Load cost then resets to
    * one base (no delta fold), and NO replay watermark is needed: a
    * batch replayed after compaction probes a base that already
    * contains its documents, so each one matches itself (jac = 1 ≥ t)
    * and the replay folds an empty delta — content dedup is
    * self-protecting where BM25's additive counters were not.
    * Crash-ordered: the new `basev=<v+1>` commits WITH an embedded
    * `_folded_through` watermark (the max delta batch id it absorbed)
    * before the `_base_version` marker flips, and retirement (folded
    * deltas + the old base) happens after; the loader filters deltas
    * by the current base's watermark, so a crash between the flip and
    * retirement leaves stale-but-ignored deltas, never double-counted
    * documents (a doc folded into the base AND still visible as a
    * delta would appear twice in the verification arrays, and the next
    * rebuild would bake the duplicate in — halving effective prefix
    * coverage via the one-row-per-doc rank window). Run at a quiet
    * boundary of the single-writer stream (same contract as
    * [[compactBm25Index]]). `threshold` must equal the store's build
    * threshold. */
  def compactPrefixIndexStore(spark: org.apache.spark.sql.SparkSession,
                              path: String, threshold: Double): Unit = {
    import graft.operators.{Checkpoints, DedupQueries}
    // commit point = arrays, the sink's LAST write (see the skeleton's
    // crash-ordering scaladoc)
    compactVersionedBase(spark, path,
      Seq("entries", "freqd", "arrays"), "arrays") { (v, floor, w) =>
      Checkpoints.releasingScoped {
        // fold base ∪ arrays deltas in (floor, w] — the skeleton's
        // rebuild bound. The loader's wider "data-bearing above floor"
        // view is wrong here: a partial/stale arrays partition above w
        // baked in while the watermark stays at w would double its
        // docs when the replay folds. Within (floor, w] every
        // partition is complete (w's batch-level evidence).
        val base = spark.read.parquet(s"$path/basev=$v/arrays")
        val arrays = dataBatchDirs(spark, s"$path/arrays", floor)
          .filter(_._1 <= w)
          .map { case (_, p) => spark.read.parquet(p.toString)
            .select(col("doc_id"), col("sh")) }
          .foldLeft(base)(_.unionByName(_))
        // the re-freeze changes the entry-element set, so the persisted
        // element bloom stops being a guaranteed superset: delete it
        // BEFORE the base-version flip (a crash anywhere after leaves
        // no bloom; the rebuild below — or a batch's lazy build — then
        // derives one from whichever base is current)
        fsOf(spark, path).delete(
          new org.apache.hadoop.fs.Path(s"$path/$ElementBloomFile"), false)
        // the streamed store is single-block (the sink probes through
        // tokenArrays' source = "all" convention), so the rebuild
        // re-attaches that block key
        writeBase(DedupQueries.buildPrefixIndex(
          arrays.select(col("doc_id"), lit("all").as("source"), col("sh")),
          threshold), path, v + 1)
      }
    }
    // re-derive the bloom off the batch path (compaction cadence owns
    // this pass); idle compactions (nothing folded) keep their valid
    // bloom and skip the rebuild
    if (!fsOf(spark, path).exists(
        new org.apache.hadoop.fs.Path(s"$path/$ElementBloomFile")))
      buildElementBloom(spark, path, loadStreamedPrefixIndex(spark, path))
    ()
  }

  /** Load the stream-maintained dedup index: base relations unioned
    * with every batch delta past the base's `_folded_through`
    * watermark (deltas the base already absorbed may linger if a
    * compaction crashed before retirement — counting them again would
    * duplicate documents), minus `excludeBatch` — a REPLAYING batch
    * must not probe against its own prior half-committed attempt, or
    * every replayed doc would match itself and be rejected. `freq`
    * folds (f stays the base's frozen value — deltas carry f = 0 —
    * while nf accumulates, keeping the heavy-key guard honest as
    * posting lists grow). */
  def loadStreamedPrefixIndex(spark: org.apache.spark.sql.SparkSession,
                              path: String,
                              excludeBatch: Option[Long] = None)
  : graft.operators.DedupQueries.PrefixIndex = {
    val v = readLongMarker(spark, path, "_base_version").getOrElse(0L)
    val base = s"$path/basev=$v"
    val floor = readLongMarker(spark, base, "_folded_through")
      .getOrElse(Long.MinValue)
    def withDeltas(rel: DataFrame, sub: String): DataFrame =
      deltasAfter(spark, s"$path/$sub", floor, excludeBatch)
        .map(d => rel.unionByName(d.drop("batch_id")))
        .getOrElse(rel)
    // freq fold ONLY when deltas exist: the base freq is already
    // aggregated, so the compacted steady state (every batch right
    // after a re-freeze) must not pay a vocabulary-sized shuffle per
    // consumer per load for a no-op fold
    val freq = deltasAfter(spark, s"$path/freqd", floor, excludeBatch) match {
      case None => spark.read.parquet(s"$base/freq")
      case Some(d) =>
        spark.read.parquet(s"$base/freq")
          .unionByName(d.drop("batch_id"))
          .groupBy(col("source"), col("s"))
          .agg(sum(col("f")).as("f"), sum(col("nf")).as("nf"))
    }
    graft.operators.DedupQueries.PrefixIndex(
      freq,
      withDeltas(spark.read.parquet(s"$base/entries"), "entries"),
      withDeltas(spark.read.parquet(s"$base/arrays"), "arrays"))
  }

  /** Per-micro-batch dedup-index maintenance: probe the batch against
    * the maintained index
    * ([[graft.operators.DedupQueries.prefixProbeJoin]] — the q80
    * probe-only shape, never an index×index candidate), then fold the
    * ACCEPTED (non-matching) documents in as three idempotent
    * batch-keyed delta partitions:
    *   `entries/batch_id=N` — the accepted docs' prefix entries;
    *   `freqd/batch_id=N`  — their nf deltas (f = 0: the element
    *                          ORDER stays frozen at the base build);
    *   `arrays/batch_id=N` — their verification arrays.
    *
    * Soundness under maintenance: the prefix-filter theorem needs ONE
    * total order common to a pair's two prefixes. Probe prefixes and
    * every delta's entries rank under the SAME frozen (base f, s)
    * order — elements unseen at base-build time get f = 0 (rarest;
    * they cannot match base entries, and two post-base docs sharing
    * such an element still agree on its rank) — so candidates remain a
    * superset of true pairs forever and exact verification does the
    * rest. Frequencies drifting from the frozen order cost extra
    * CANDIDATES over time ([[compactPrefixIndexStore]] re-freezes the
    * order at snapshot cadence), never missed pairs; PrefixStreamSpec
    * pins (maintained index) == (fresh union build) on the q80
    * attribution.
    *
    * Within-batch duplicates are NOT collapsed here (both get accepted,
    * exactly as a fresh build over the accepted set would hold both) —
    * feed the stream through [[curate]]/[[nearDupStream]] first when
    * in-batch dedup is wanted. `threshold` must equal the base build's
    * (a probe threshold above it only admits extra candidates).
    *
    * `autoCompactEvery > 0` wires the [[autoCompact]] cadence in: once
    * that many uncompacted arrays deltas accumulate, the sink runs
    * [[compactPrefixIndexStore]] (the order re-freeze) before
    * returning — between batches of the single-writer stream, so the
    * quiet-boundary contract holds with no manual compaction call. */
  def prefixIndexSink(path: String, threshold: Double,
                      heavyListThreshold: Int = 4096, salt: Int = 16,
                      autoCompactEvery: Int = 0,
                      bloomScreen: Boolean = true)
  : (DataFrame, Long) => Unit = (batch, batchId) => {
    graft.operators.Checkpoints.releasingScoped {
      import graft.operators.DedupQueries
      val spark = batch.sparkSession
      val idx = loadStreamedPrefixIndex(spark, path, Some(batchId))
      val arrs = DedupQueries.tokenArrays(batch)
      // the q111 bloom discipline applied to the
      // q80 probe: a LOSSLESS pre-screen on the index's entry-element
      // set. By the prefix-filter theorem a true pair (Jaccard ≥ t)
      // shares an element of the INDEX doc's prefix — i.e. an entry
      // element — so a batch doc NONE of whose elements might be in
      // the entry-element bloom cannot match anything and skips the
      // exact probe entirely (bloom false positives only admit extra
      // docs to the exact path; false negatives are impossible, so the
      // accepted set is IDENTICAL — PrefixStreamSpec pins it). The
      // screen's selectivity is workload-dependent: disjoint-content
      // streams (the deployment case for novel data) screen out almost
      // everything; closed-vocabulary streams survive en masse and pay
      // only the per-row bloom probe. The probe itself runs in
      // batchProbe shape: probe prefixes and candidates broadcast, the
      // corpus-scale index relations are scanned map-side, never
      // shuffled per batch.
      val bloomBytes =
        if (bloomScreen) Some(loadOrBuildElementBloom(spark, path, idx))
        else None
      // NOT checkpointed: the screen is a cheap map over the batch
      // (tokenize + bloom probes) and its consumers re-derive it for
      // less than a checkpoint job costs — per-batch driver job count
      // is the composed session's scarce resource
      val screened = bloomBytes.map { bytes =>
        import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
        import org.apache.spark.sql.graft.ColumnBridge
        arrs.filter(
          exists(col("sh"), e => ColumnBridge.column(BloomFilterMightContain(
            Literal.create(bytes, org.apache.spark.sql.types.BinaryType),
            ColumnBridge.expression(xxhash64(e))))))
      }.getOrElse(arrs)
      val dups =
        if (bloomBytes.isDefined && screened.isEmpty)
          // short-circuit: nothing survived the screen — no index scan
          // at all this batch
          arrs.select(col("doc_id")).limit(0)
        else DedupQueries.prefixProbeJoin(idx, screened, threshold,
            heavyListThreshold, salt, batchProbe = true)
          .select(col("id_probe").as("doc_id")).distinct()
      // materialized once: the probe-verification join (the batch's
      // dominant cost) feeds two independent actions below — the
      // entries/freqd writes via entriesDelta AND the arrays write —
      // and would re-execute for the second without this truncate
      val accepted = graft.operators.Checkpoints.truncate(
        arrs.join(dups, Seq("doc_id"), "left_anti"))
      val prefixLen =
        (col("n") - ceil(col("n") * threshold - 1e-9) + 1).cast("int")
      val entriesDelta = accepted
        .select(col("source"), col("doc_id"), size(col("sh")).as("n"),
          explode(col("sh")).as("s"))
        .join(idx.freq.select(col("source"), col("s"), col("f")),
          Seq("source", "s"), "left")
        .withColumn("f", coalesce(col("f"), lit(0L)))
        .withColumn("rk", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("doc_id")).orderBy(col("f"), col("s"))))
        .filter(col("rk") <= prefixLen)
        .select(col("source"), col("s"), col("doc_id").as("id_index"),
          col("n").as("n_i"), col("rk").as("p_i"))
      // materialized once: the parquet write and the nf aggregate both
      // consume it; the scoped release retires the checkpoint after
      val ed = graft.operators.Checkpoints.truncate(entriesDelta)
      // bloom update BEFORE the entries commit: the screen is sound
      // only while the persisted bloom is a SUPERSET of the on-disk
      // entry elements, so the new elements must land first (a crash
      // in between leaves extra bloom bits — harmless; the replay
      // re-adds idempotently, bloom union is commutative)
      bloomBytes.foreach { bytes =>
        val newHashes = ed.select(xxhash64(col("s")).as("h"))
          .distinct().collect().map(_.getLong(0))
        if (newHashes.nonEmpty)
          mergeElementBloom(spark, path, bytes, newHashes)
      }
      ed.write.mode("overwrite").parquet(s"$path/entries/batch_id=$batchId")
      ed.groupBy(col("source"), col("s"))
        .agg(count(lit(1)).as("nf")).withColumn("f", lit(0L))
        .select(col("source"), col("s"), col("f"), col("nf"))
        .write.mode("overwrite").parquet(s"$path/freqd/batch_id=$batchId")
      accepted.select(col("doc_id"), col("sh"))
        .write.mode("overwrite").parquet(s"$path/arrays/batch_id=$batchId")
    }
    val spark2 = batch.sparkSession
    autoCompact(spark2, autoCompactEvery, s"$path/arrays", {
      val v = readLongMarker(spark2, path, "_base_version").getOrElse(0L)
      readLongMarker(spark2, s"$path/basev=$v", "_folded_through")
        .getOrElse(Long.MinValue)
    }) {
      compactPrefixIndexStore(spark2, path, threshold)
    }
  }

  /** Streaming fuzzy-decontamination screen — q133's streaming face
    * ([[graft.operators.PipelineQueries.fuzzyDecontaminate]]), the shape
    * a decontamination deployment actually runs: documents ARRIVE, the
    * eval suite is STATIC. Stateless and shuffle-free end to end:
    * per-ROW token-minhash signatures (the [[nearDupStream]] idiom — no
    * doc_id aggregate, so nothing shuffles), banded at the registered
    * 8×4 layout, equi-joined against the BROADCAST banded eval suite,
    * and every candidate exact-verified by token Jaccard against the
    * broadcast eval token sets before it is emitted. An arriving batch
    * therefore costs one map-side pass over itself — no state, no
    * watermark, nothing grows — which is why this runs inline in an
    * ingest path at any corpus rate.
    *
    * A pair colliding in several bands is emitted once per band
    * (`band` column kept); consumers dedupe on (doc_id, eval_id) — the
    * [[NearDupMatch]] contract, and exactly what the batch path's
    * `distinct()` does. DocStreamSpec pins: streamed matches over any
    * batch split, deduped, equal the offline q133 match relation on the
    * same corpus (per-doc verdicts are batch-independent, so equality
    * is exact, not approximate). Works unchanged on a static frame. */
  def deconScreenStream(docs: DataFrame, evalDocs: DataFrame,
                        threshold: Double = 0.8): DataFrame = {
    import graft.operators.{DedupQueries, PipelineQueries}
    val (nb, rpb) = (PipelineQueries.LshBands, PipelineQueries.LshRows)
    val evB = broadcast(DedupQueries.minhashBandedTokens(
      evalDocs.select(col("doc_id"), col("text")), nb, rpb)
      .withColumnRenamed("doc_id", "eval_id"))
    val evToks = broadcast(evalDocs.select(col("doc_id").as("eval_id"),
      array_distinct(split(col("text"), " ")).as("et")))
    // the arriving side bands through the SAME one definition of the
    // hash chain + layout the offline q133 path uses (withTokenBands —
    // the exact-equality pin depends on byte-identical banding),
    // carrying text through for the verify
    DedupQueries.withTokenBands(docs.select(col("doc_id"), col("text")),
        nb, rpb, Seq("doc_id", "text"))
      .join(evB, Seq("band", "s0", "s1", "s2", "s3"))
      .join(evToks, Seq("eval_id"))
      .withColumn("t", array_distinct(split(col("text"), " ")))
      .withColumn("jac",
        size(array_intersect(col("t"), col("et"))).cast("double")
          / size(array_union(col("t"), col("et"))))
      .filter(col("jac") >= threshold)
      .select(col("doc_id"), col("eval_id"), col("jac"), col("band"))
  }

  /** A near-duplicate match surfaced by [[nearDupStream]]: `doc_id` is
    * the arriving document, `matched_id` a previously-seen bucket-mate,
    * `n_equal_sigs` ∈ [4, 16] the matching MinHash components (÷16 ≈
    * Jaccard estimate; ≥ 4 because they share the colliding band). */
  final case class NearDupMatch(doc_id: Long, matched_id: Long,
                                n_equal_sigs: Int)

  /** Streaming NEAR-duplicate detection — q66's streaming twin, closing
    * the gap [[curate]]'s exact content-hash dedup leaves: a paraphrased
    * or lightly-edited re-submission sails through exact dedup but
    * collides here. Per arriving document: the q66 portable MinHash
    * signature (16 affine permutations over [[graft.functions.GramHashArray]]
    * fingerprints — computed PER ROW, no doc_id aggregate, so the stream
    * needs no extra shuffle beyond the bucket key), banded 4×4; each
    * (band, 4-signature bucket) group keeps the documents seen in that
    * bucket and emits a match for every stored bucket-mate of a new
    * arrival.
    *
    * State is bounded per bucket by `maxPerBucket` (FIFO eviction —
    * oldest stored docs age out first, the natural choice when near-dups
    * cluster in time); a pair colliding in several bands is emitted once
    * per band — consumers dedupe on (doc_id, matched_id), as the batch
    * LSH's `distinct()` does. */
  def nearDupStream(docs: DataFrame, maxPerBucket: Int = 1024): Dataset[NearDupMatch] = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import graft.operators.DedupQueries
    val sig = array((0 until 16).map(k => array_min(transform(
      graft.functions.GramHashArray(col("text"), stride = 4),
      g => (g * DedupQueries.minhashA(k) + DedupQueries.minhashB(k))
        % DedupQueries.MinhashP))): _*)
    val bandStructs = (0 until 4).map(b => struct(lit(b).as("band"),
      col("sig")(4 * b).as("s0"), col("sig")(4 * b + 1).as("s1"),
      col("sig")(4 * b + 2).as("s2"), col("sig")(4 * b + 3).as("s3")))
    docs.filter(length(col("text")) >= 8)
      .select(col("doc_id"), sig.as("sig"))
      .select(col("doc_id"), col("sig"), explode(array(bandStructs: _*)).as("b"))
      .select(col("b.band").as("band"), col("b.s0").as("s0"), col("b.s1").as("s1"),
        col("b.s2").as("s2"), col("b.s3").as("s3"), col("doc_id"), col("sig"))
      .as[(Int, Long, Long, Long, Long, Long, Seq[Long])]
      .groupByKey(r => (r._1, r._2, r._3, r._4, r._5))
      .flatMapGroupsWithState[Array[(Long, Seq[Long])], NearDupMatch](
        OutputMode.Update(), GroupStateTimeout.NoTimeout)(
        (_, rows, state) => {
          var stored = state.getOption.getOrElse(Array.empty[(Long, Seq[Long])])
          val out = Seq.newBuilder[NearDupMatch]
          rows.foreach { r =>
            val (id, s) = (r._6, r._7)
            stored.foreach { case (oid, os) =>
              if (oid != id)
                out += NearDupMatch(id, oid,
                  s.iterator.zip(os.iterator).count(p => p._1 == p._2))
            }
            if (!stored.exists(_._1 == id)) {
              stored = if (stored.length >= maxPerBucket)
                stored.drop(1) :+ ((id, s)) // FIFO: evict the oldest
              else stored :+ ((id, s))
            }
          }
          state.update(stored)
          out.result().iterator
        })
  }
}
