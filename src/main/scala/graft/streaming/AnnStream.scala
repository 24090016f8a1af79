package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{AnnQueries, Checkpoints}

/** Streaming maintenance of the sign-LSH ANN index — the third
  * retrieval modality brought under the [[DocStream]] maintenance
  * discipline (lexical BM25: `bm25IndexSink`; prefix dedup:
  * `prefixIndexSink`; vectors: here). A base index freezes the bucket
  * geometry, micro-batches append batch-keyed idempotent deltas, and
  * compaction re-derives the geometry for the grown corpus.
  *
  * Why incremental maintenance is EXACTLY sound here: a sign-LSH
  * signature depends only on (vector, planes) — no corpus statistic —
  * so a delta signed under the base's frozen `planes` is bit-identical
  * to what an offline rebuild at those planes would assign
  * (AnnStreamSpec pins streamed == offline on the probe results). What
  * DOES drift is the occupancy knob itself: `planesFor(n)` grows with
  * the corpus, and frozen planes at 100× vectors mean 100×-occupancy
  * buckets. [[compactAnnIndexStore]] re-derives
  * planes from the CURRENT count and re-signs — the
  * `compactPrefixIndexStore` re-freeze discipline applied to bucket
  * geometry instead of element frequencies.
  *
  * Store layout (the [[DocStream]] versioned-base + delta scheme):
  * {{{
  *   basev=<v>/vecs, basev=<v>/sig     base relations
  *   basev=<v>/_planes                  frozen plane count
  *   basev=<v>/_folded_through          delta watermark (crash guard)
  *   _base_version                      current base pointer
  *   vecd/batch_id=N, sigd/batch_id=N   per-batch deltas
  * }}} */
object AnnStream {
  import DocStream.{dataBatchDirs, deltasAfter, readLongMarker,
    writeLongMarker}

  /** The loaded maintained index: `sig` (vec_id, signature) and `vecs`
    * (vec_id, embedding) — base ∪ post-watermark deltas — plus the
    * frozen `planes` every signature (and every probe) ranks under. */
  final case class StreamedAnnIndex(sig: DataFrame, vecs: DataFrame,
                                    planes: Int)

  /** One-time base build over a corpus snapshot: planes derive from
    * the snapshot's count via [[AnnQueries.planesFor]] (the registered
    * q93/q106 auto-scale rule), then freeze until compaction. */
  def initAnnIndexStore(embeddings: DataFrame, path: String,
                        targetOccupancy: Int = 128): Unit = {
    val spark = embeddings.sparkSession
    val planes =
      AnnQueries.planesFor(embeddings.count(), targetOccupancy)
    writeBase(embeddings, path, 0L, planes)
    writeLongMarker(spark, path, "_base_version", 0L)
  }

  private def writeBase(embeddings: DataFrame, path: String, v: Long,
                        planes: Int): Unit = {
    val spark = embeddings.sparkSession
    val vecs = embeddings.select(col("vec_id"), col("embedding"))
    vecs.write.mode("overwrite").parquet(s"$path/basev=$v/vecs")
    AnnQueries.signSignatures(vecs, planes)
      .write.mode("overwrite").parquet(s"$path/basev=$v/sig")
    writeLongMarker(spark, s"$path/basev=$v", "_planes", planes.toLong)
  }

  /** Per-micro-batch index maintenance: sign the batch under the
    * base's FROZEN planes, write two idempotent batch-keyed deltas
    * (`vecd` then `sigd`). No probe, no counters, no skip guard — an
    * ANN index indexes everything, signatures are per-row (nothing
    * additive to double-count), and a replay overwrites its own
    * partitions. `sigd` commits last, so signatures never reference
    * vectors that have not landed (a reader racing the writer may see
    * a batch's vectors without signatures — those rows simply cannot
    * be candidates until the next load; bounded by one batch).
    *
    * Concurrent-compaction guard: the planes are read at
    * batch entry, so a compaction running CONCURRENTLY (violating the
    * quiet-boundary contract) could flip `_base_version` — and with it
    * the plane count — while this batch signs under the OLD planes. The
    * batch's sigd would then land ABOVE the new base's watermark,
    * signed under geometry no probe uses: silently unfindable vectors
    * until the next compaction re-signs them. The sink therefore
    * re-reads `_base_version` AFTER the sigd commit and FAILS the batch
    * if it moved — foreachBatch's replay re-signs under the new base's
    * planes. This NARROWS the breach window to flips landing after the
    * re-read (a compactor that listed sigd before this batch's commit
    * and flipped after the check still strands the batch) — it is a
    * detection aid, not a substitute for the quiet-boundary contract;
    * run compaction through the sink's own `autoCompactEvery` cadence
    * (which executes inside the foreachBatch turn, after this guard —
    * a quiet boundary by construction) and no concurrent compactor
    * exists to race at all.
    *
    * `autoCompactEvery > 0` wires the
    * [[DocStream.autoCompact]] cadence in: once that many uncompacted
    * sigd deltas accumulate, the sink runs [[compactAnnIndexStore]]
    * (the occupancy re-freeze) before returning — between batches of
    * the single-writer stream, with no manual compaction call. */
  def annIndexSink(path: String, targetOccupancy: Int = 128,
                   autoCompactEvery: Int = 0): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      val spark = batch.sparkSession
      val v = Checkpoints.releasingScoped {
        val v0 = readLongMarker(spark, path, "_base_version").getOrElse(0L)
        val planes = readLongMarker(spark, s"$path/basev=$v0", "_planes")
          .getOrElse(sys.error(s"no _planes marker under $path/basev=$v0 " +
            "— initAnnIndexStore must run before the sink")).toInt
        val vecs = batch.select(col("vec_id"), col("embedding"))
        vecs.write.mode("overwrite").parquet(s"$path/vecd/batch_id=$batchId")
        AnnQueries.signSignatures(vecs, planes)
          .write.mode("overwrite").parquet(s"$path/sigd/batch_id=$batchId")
        val vAfter = readLongMarker(spark, path, "_base_version").getOrElse(0L)
        require(vAfter == v0,
          s"_base_version moved $v0 -> $vAfter while batch $batchId signed " +
            s"under basev=$v0's planes — a compaction ran concurrently with " +
            "the sink (quiet-boundary breach); failing the batch so the " +
            "replay re-signs under the current geometry")
        v0
      }
      DocStream.autoCompact(spark, autoCompactEvery, s"$path/sigd",
        readLongMarker(spark, s"$path/basev=$v", "_folded_through")
          .getOrElse(Long.MinValue)) {
        compactAnnIndexStore(spark, path, targetOccupancy)
      }
    }

  /** Load the maintained index: base relations unioned with every
    * batch delta past the base's `_folded_through` watermark (stale
    * deltas a crashed compaction failed to retire are already in the
    * base — counting them again would duplicate candidate rows and
    * TopK entries). */
  def loadStreamedAnnIndex(spark: org.apache.spark.sql.SparkSession,
                           path: String): StreamedAnnIndex = {
    val v = readLongMarker(spark, path, "_base_version").getOrElse(0L)
    val base = s"$path/basev=$v"
    val planes = readLongMarker(spark, base, "_planes")
      .getOrElse(sys.error(s"no _planes marker under $base")).toInt
    val floor = readLongMarker(spark, base, "_folded_through")
      .getOrElse(Long.MinValue)
    def withDeltas(rel: DataFrame, sub: String): DataFrame =
      deltasAfter(spark, s"$path/$sub", floor)
        .map(d => rel.unionByName(d.drop("batch_id")))
        .getOrElse(rel)
    StreamedAnnIndex(
      withDeltas(spark.read.parquet(s"$base/sig"), "sigd"),
      withDeltas(spark.read.parquet(s"$base/vecs"), "vecd"),
      planes)
  }

  /** Probe-only kNN against the maintained index —
    * [[AnnQueries.knnProbeLsh]] with the index's frozen planes. Query
    * ids share the index namespace (see the ID CONTRACT there): a
    * stored vector re-queried under its own id excludes itself;
    * independently-numbered queries must not collide with stored
    * ids. */
  def knnProbe(index: StreamedAnnIndex, queries: DataFrame, k: Int = 3,
               probeFlips: Int = 1): DataFrame =
    AnnQueries.knnProbeLsh(index.sig, index.vecs, index.planes,
      queries, k, probeFlips)

  /** Embedding-space decontamination against the maintained index —
    * q135's store-backed face ([[AnnQueries.embedDecontaminateIndexed]]
    * at the frozen planes): which STORED vectors sit at scaled cosine
    * ≥ `tauScaled` of any eval query. The store is never re-signed; an
    * eval suite costs its own multiprobe candidate volume, so a
    * deployment re-screens its whole maintained corpus against a new
    * benchmark release as one probe pass. ID CONTRACT: eval ids must
    * be disjoint from stored ids (exclude the suite from the corpus —
    * the q135 source split — or number it outside the store's range). */
  def deconProbe(index: StreamedAnnIndex, queries: DataFrame,
                 tauScaled: Long = 300000L, probeFlips: Int = 2): DataFrame =
    AnnQueries.embedDecontaminateIndexed(index.sig, index.vecs,
      index.planes, queries, tauScaled, probeFlips)

  /** Compact the maintained ANN index: rebuild the base over
    * base ∪ deltas with planes RE-DERIVED from the current corpus
    * count — the occupancy re-freeze (a frozen plane count at a grown
    * corpus means overgrown buckets; `planesFor` restores the
    * ~targetOccupancy bucket size, keeping probe candidate volume
    * linear in n). Same crash ordering as the sibling stores: the new
    * `basev=<v+1>` commits with its `_planes` and `_folded_through`
    * markers BEFORE `_base_version` flips readers over; retirement
    * (folded deltas + the old base) happens after; the loader's
    * watermark filter makes a crash between flip and retirement
    * harmless. Run at a quiet boundary of the single-writer stream. */
  def compactAnnIndexStore(spark: org.apache.spark.sql.SparkSession,
                           path: String,
                           targetOccupancy: Int = 128): Unit =
    // commit point = sigd, the sink's LAST write (see the skeleton's
    // crash-ordering scaladoc in DocStream.compactVersionedBase)
    DocStream.compactVersionedBase(spark, path,
      Seq("sigd", "vecd"), "sigd") { (v, floor, w) =>
      Checkpoints.releasingScoped {
        // fold base ∪ vecd deltas in (floor, w] ONLY — the skeleton's
        // rebuild bound: a crashed sink can leave a vecd delta ABOVE w
        // (vecd commits before sigd, and w keys off sigd); folding it
        // while the watermark stays at w would bake the batch in AND
        // let its replay's deltas fold again — duplicated vectors in
        // every later probe's TopK. One materialization feeds the
        // count, the vecs write and the re-sign.
        // within (floor, w] every partition is complete — w's
        // batch-level evidence covers vecd too
        val base = spark.read.parquet(s"$path/basev=$v/vecs")
        val vecs = Checkpoints.truncate(
          dataBatchDirs(spark, s"$path/vecd", floor)
            .filter(_._1 <= w)
            .map { case (_, p) =>
              spark.read.parquet(p.toString).select(col("vec_id"),
                col("embedding")) }
            .foldLeft(base)(_.unionByName(_)))
        writeBase(vecs, path, v + 1,
          AnnQueries.planesFor(vecs.count(), targetOccupancy))
      }
    }
}
