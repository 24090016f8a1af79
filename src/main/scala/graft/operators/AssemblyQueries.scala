package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import QueryDef.OrderedResultOps

/** Training-data-pipeline battery #4 (round 7, second half): the
  * assembly/quantization operators that sit between curation and the
  * trainer — corpus-global span rewriting, product-quantized ANN,
  * importance weighting, deterministic shard sequencing, and
  * centroid-distance outlier scoring. Like CurationQueries, every entry
  * is integer-disciplined (or round-6-pinned float with the q39/q52
  * precedent) so the DuckDB oracle re-derives the full construction.
  *
  * Reference scope note: the reference engine (dystonse-gtfs-data) has no
  * corpus battery; these extend the engine for large-scale training-data
  * pipelines per the build brief. */
object AssemblyQueries {

  /** Corpus-global span dedup WITH document reconstruction (the C4/
    * RefinedWeb "remove duplicated spans, keep the first occurrence"
    * rewrite, not just q69's overlap DETECTION): documents segment into
    * non-overlapping `width`-token chunks; a chunk survives iff its text's
    * FIRST corpus occurrence (lexicographic (doc_id, pos)) is this one;
    * surviving chunks reassemble in order into the cleaned document.
    *
    * Shape: one shuffle keyed by chunk text (groupBy min — map-side
    * combinable; at 100 TB key on a 128-bit chunk hash instead of the
    * string to shrink shuffle width), one join back on the same key, one
    * per-document aggregate whose state is that document's own chunks
    * (bounded by document length, like the curve groups). The
    * reconstruction never materializes a global order — order lives
    * inside each document's sorted chunk array.
    *
    * Precondition: chunk position < 2²⁰ (docs under ~10M tokens at
    * width 10), so (doc_id·2²⁰ + pos) is a collision-free BIGINT
    * first-occurrence key on both engines. */
  def spanDedupRewrite(documents: DataFrame, width: Int = 10): DataFrame = {
    val chunks = documents
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) > 0) // sequence(0, -1) would DESCEND, not empty
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), ((size(col("t")) - 1) / lit(width)).cast("int")),
        i => array_join(slice(col("t"), i * width + 1, lit(width)), " ")))
        .as(Seq("pos", "chunk")))
      // enforce the documented pos < 2²⁰ precondition: past it the key
      // bleeds into doc_id+1's space and BOTH engines would agree on a
      // wrong first occurrence — fail loudly instead
      .withColumn("k", when(col("pos") >= lit(1048576),
        raise_error(lit("spanDedupRewrite: document exceeds 2^20 chunks — " +
          "widen the first-occurrence key")))
        .otherwise(col("doc_id") * lit(1048576L) + col("pos")))
    val first = chunks.groupBy(col("chunk")).agg(min(col("k")).as("first_k"))
    chunks.join(first, Seq("chunk"))
      .withColumn("kept", (col("k") === col("first_k")).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"), sum(col("kept")).as("n_kept"),
        // when() without otherwise -> null; collect_list drops nulls, so
        // this collects exactly the survivors
        md5(array_join(transform(
          array_sort(collect_list(when(col("kept") === 1,
            struct(col("pos"), col("chunk"))))),
          _.getField("chunk")), " ")).as("cleaned_md5"))
      // per-document output: parallel range sort (see orderedOutput)
      .orderedOutput(col("doc_id"))
  }

  /** Product-quantization ANN (Jégou et al., PAMI 2011) — the shape that
    * actually scans 100 TB of vectors: each vector compresses to `m`
    * small centroid codes, the probe precomputes an m × k lookup table,
    * and the scan touches CODES ONLY (8 bytes/vector here vs 256 raw).
    *
    * Everything is EXACT INTEGER arithmetic so DuckDB reproduces every
    * code and distance bit-for-bit (the q71 discipline): components
    * quantize as floor(x · 2²⁰) (exact — float→double is exact and 2²⁰
    * is a power of two), codebooks are the `kCent` lowest-vec_id
    * vectors' subvectors (train-free deterministic codebook, the
    * first-k convention q52's Lloyd init uses), assignment is integer
    * argmin with ties to the smaller centroid id. |xi| ≲ 2²⁴ keeps the
    * summed squared distances far under 2⁶³.
    *
    * Shape: codebook is kCent × dim scalars — broadcast; code assignment
    * is one broadcast join + two keyed aggregations over the exploded
    * (rows × dim) layout (the [[AnnQueries.centroids]] layout); the ADC
    * scan is a broadcast join of the m×kCent LUT against the CODE
    * relation (m rows per vector) + one keyed sum; top-k is a root
    * TakeOrderedAndProject. No window, no shuffle wider than rows × m. */
  def pqSearch(embeddings: DataFrame, probe: DataFrame, subDim: Int = 8,
               kCent: Int = 16, topK: Int = 10): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val ex = embeddings
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("pos"), (col("pos") / subDim).cast("int").as("sub"),
        floor(col("x").cast("double") * lit(1048576.0)).cast("long").as("xi"))
    // codebook ids: kCent lowest vec_ids -> centroid rank. Driver-sized
    // BY DEFINITION (kCent rows) — the documented collect class (k-means
    // centroid seeds).
    val ranks = embeddings.select(col("vec_id")).orderBy(col("vec_id"))
      .limit(kCent).collect().iterator.zipWithIndex
      .map { case (r, i) => (r.getLong(0), i) }.toSeq.toDF("vec_id", "c")
    val cents = ex.join(broadcast(ranks), Seq("vec_id"))
      .select(col("c"), col("sub"), col("pos"), col("xi").as("ci"))
    // integer argmin per (vector, subspace): d(v,sub,c) = Σ_pos (xi-ci)²
    val codes = ex.join(broadcast(cents), Seq("sub", "pos"))
      .groupBy(col("vec_id"), col("sub"), col("c"))
      .agg(sum((col("xi") - col("ci")) * (col("xi") - col("ci"))).as("d"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(struct(col("d"), col("c"))).as("m"))
      .select(col("vec_id"), col("sub"), col("m.c").as("c"))
    // probe's asymmetric-distance lookup table: m × kCent rows
    val pex = probe
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("pos"),
        floor(col("x").cast("double") * lit(1048576.0)).cast("long").as("pi"))
    val lut = cents.join(broadcast(pex), Seq("pos"))
      .groupBy(col("sub"), col("c"))
      .agg(sum((col("pi") - col("ci")) * (col("pi") - col("ci"))).as("lut"))
    codes.join(broadcast(lut), Seq("sub", "c"))
      .groupBy(col("vec_id")).agg(sum(col("lut")).as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(topK)
  }

  /** Portable 8-char polynomial hash of a short token (the GramHashArray
    * family over the token's own chars; chars past the end contribute
    * ascii('') = 0 on both engines), folded into `buckets` feature
    * buckets. Max term sum ≈ 255·31⁷·8 ≈ 5.6e13 — no intermediate mod
    * needed. */
  private def tokenBucket(token: Column, buckets: Int): Column =
    (0 until 8).map(k => ascii(substring(token, k + 1, 1)) *
        lit(math.pow(31, k).toLong))
      .reduce(_ + _) % lit(1000000007L) % lit(buckets.toLong)

  private[operators] def tokenBucketSql(buckets: Int): String =
    (0 until 8).map(k =>
      s"ascii(substr(token,${k + 1},1))*CAST(${math.pow(31, k).toLong} AS BIGINT)")
      .mkString("(", " + ", s") % 1000000007 % $buckets")

  /** DSIR-style importance weighting (Xie et al., NeurIPS 2023): score
    * each document by how much its hashed-unigram feature distribution
    * looks like a TARGET domain relative to the raw corpus. Feature =
    * token hash mod `buckets`; each token occurrence contributes the
    * integer ratio (target_count[b] · 10⁶) div corpus_count[b]; the
    * document score is the sum — pure BIGINT arithmetic, identical in
    * DuckDB (the mixing pipeline uses these scores to up-sample
    * target-like data).
    *
    * Shape: both frequency tables are `buckets`-sized (dimension-sized
    * by construction) → broadcast; scoring is one map-side join + one
    * per-document aggregate. The corpus shuffles ONCE (the bucket
    * groupBy), never pairwise. */
  def dsirWeights(documents: DataFrame, targetSource: String = "src0",
                  buckets: Int = 1024): DataFrame = {
    val toks = documents.select(col("doc_id"), col("source"),
      explode(split(col("text"), " ")).as("token"))
      .withColumn("b", tokenBucket(col("token"), buckets))
    // corpus and target frequencies in ONE aggregate pass (a separate
    // filtered groupBy was a second full scan of the exploded relation)
    val w = toks.groupBy(col("b"))
      .agg(count(lit(1)).as("cr"),
        sum(when(col("source") === targetSource, 1L).otherwise(0L)).as("ct"))
      .select(col("b"), expr("ct * 1000000 div cr").as("w"))
    toks.join(broadcast(w), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("w")).as("score"))
      // per-document output: parallel range sort (see orderedOutput)
      .orderedOutput(col("doc_id"))
  }

  /** Hashed-feature class-profile classifier — the shallow fastText-style
    * router curation pipelines use for language/domain tagging, with
    * training AND inference as one distributed plan in exact integer
    * arithmetic. TRAIN on the deterministic even-doc_id split:
    * per-class feature frequencies over hashed unigram buckets with
    * add-one smoothing, w(class, b) = (cnt+1)·10⁹ div (total_class +
    * buckets). PREDICT the odd-doc_id split: score(doc, class) =
    * Σ_tokens w(class, bucket(token)) — a linear scorer over the hashed
    * bag of words — argmax with ties to the lexicographically first
    * class. Output: (doc_id, true_lang, pred_lang, correct).
    *
    * Shape: the weight table is the FULL classes × buckets grid
    * (dimension-sized by construction — absent buckets still carry
    * smoothing mass) → broadcast; the corpus shuffles once for the
    * training counts and once for the test tf aggregate; scoring is a
    * map-side join fanning each (doc, bucket) row by #classes. Bound:
    * w ≤ 10⁹ and docs cap at 10⁶ tokens, so scores stay < 2⁶³. */
  def classProfileClassifier(documents: DataFrame, buckets: Int = 1024)
  : DataFrame = {
    val spark = documents.sparkSession
    val tb = documents.select(col("doc_id"), col("lang"),
      explode(split(col("text"), " ")).as("token"))
      .withColumn("b", tokenBucket(col("token"), buckets))
      .select(col("doc_id"), col("lang"), col("b"))
    val train = tb.filter(col("doc_id") % 2 === 0)
    val cls = train.groupBy(col("lang").as("class"))
      .agg(count(lit(1)).as("tot"))
    val cnt = train.groupBy(col("lang").as("class"), col("b"))
      .agg(count(lit(1)).as("c"))
    val grid = cls.crossJoin(spark.range(buckets).toDF("b"))
      .join(cnt, Seq("class", "b"), "left")
      .select(col("class"), col("b"),
        expr(s"(coalesce(c, 0) + 1) * 1000000000 div (tot + $buckets)").as("w"))
    val tf = tb.filter(col("doc_id") % 2 === 1)
      .groupBy(col("doc_id"), col("lang"), col("b"))
      .agg(count(lit(1)).as("tf"))
    tf.join(broadcast(grid), Seq("b"))
      .groupBy(col("doc_id"), col("lang"), col("class"))
      .agg(sum(col("tf") * col("w")).as("score"))
      // argmax score, ties to the first class name: min(struct(-score, class))
      .groupBy(col("doc_id"), col("lang"))
      .agg(min(struct((-col("score")).as("ns"), col("class").as("class"))).as("m"))
      .select(col("doc_id"), col("lang").as("true_lang"),
        col("m.class").as("pred_lang"),
        (col("lang") === col("m.class")).cast("long").as("correct"))
      // per-document output: parallel range sort (see orderedOutput)
      .orderedOutput(col("doc_id"))
  }

  /** Deterministic shard assignment + WITHIN-SHARD SEQUENCE — the
    * writer-side contract of a training pipeline: every document lands in
    * shard hv mod `nShards` at position `seq` of that shard's
    * hash-ordered stream, reproducibly across reruns and cluster
    * layouts (hv = the portable multiplicative doc_id hash the
    * sampling/mixing stages share).
    *
    * The naive seq is `row_number over (partition by shard order by hv)`
    * — one task per shard sorting corpus/nShards rows. This is the
    * two-phase distributed prefix-RANK instead (q64's prefix-SUM
    * machinery with weight ≡ 1): per-(shard, bucket) counts (bucket =
    * hv >> bucketShift, a dimension-sized aggregate) → driver-side
    * exclusive offsets in bucket order → hash-repartition survivors by
    * (shard, bucket), sort within partitions, one mapPartitions pass
    * seeds each segment with its offset. No task ever holds more than
    * one (shard, bucket) segment's rows. */
  def shardSequence(documents: DataFrame, nShards: Int = 64,
                    bucketShift: Int = 18): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val d = documents.select(col("doc_id"),
      ((col("doc_id") % lit(1000000007L)) * lit(2654435761L))
        .mod(lit(1000000007L)).as("hv"))
      .withColumn("shard", col("hv") % nShards)
      .withColumn("b", shiftright(col("hv"), bucketShift))
    val subs = d.groupBy(col("shard"), col("b")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // exclusive prefix offsets per shard in bucket order — driver-side
    // over a dimension-sized relation (nShards × buckets), the documented
    // collect class (same as q64's subtotals)
    val offsets = subs.groupBy(_._1).iterator.flatMap { case (_, rows) =>
      var acc = 0L
      rows.sortBy(_._2).map { case (sh, bk, n) =>
        val o = (sh, bk, acc); acc += n; o
      }
    }.toSeq
    val offDf = offsets.toDF("shard", "b", "off")
    val shift = bucketShift
    val parted = d.join(broadcast(offDf), Seq("shard", "b"))
      .repartition(col("shard"), col("b"))
      .sortWithinPartitions(col("shard"), col("b"), col("hv"), col("doc_id"))
      .select(col("doc_id"), col("shard"), col("hv"), col("off"))
      .as[(Long, Long, Long, Long)]
    parted.mapPartitions { it =>
      var curShard = Long.MinValue
      var curB = Long.MinValue
      var run = 0L
      it.map { case (id, sh, hv, off) =>
        val bk = hv >> shift
        if (sh != curShard || bk != curB) { curShard = sh; curB = bk; run = off }
        run += 1
        (id, sh, run)
      }
    }.toDF("doc_id", "shard", "seq")
      // per-document output: parallel range sort (see orderedOutput)
      .orderedOutput(col("doc_id"))
  }

  /** Sequence packing — the LAST assembly step before a trainer sees the
    * corpus: documents concatenate in a deterministic global order (the
    * shared (hv, doc_id) pipeline order) into one token stream that is
    * cut at fixed `seqLen`-token boundaries (the GPT-style pack-then-
    * split convention: a document may straddle sequences). Each document
    * reports its global token offset and the first/last sequence index
    * it lands in — exactly what a shard writer needs to emit fixed-width
    * training windows without ever materializing the concatenation.
    *
    * The naive start_off is `sum(n_tokens) over (order by hv, doc_id
    * rows unbounded preceding)` — a GLOBAL window, one task for the
    * whole corpus. This is the two-phase distributed prefix sum instead
    * (q64's machinery with a global rather than per-source key): bucket
    * subtotals (bucket = hv >> bucketShift, dimension-sized) → driver
    * exclusive offsets in bucket order → hash-repartition by bucket,
    * sort within partitions, one mapPartitions pass seeds each bucket
    * segment with its offset. No task ever holds more than one bucket's
    * rows; every step is deterministic. */
  def packSequences(documents: DataFrame, seqLen: Int = 512,
                    bucketShift: Int = 18): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val d = documents.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        ((col("doc_id") % lit(1000000007L)) * lit(2654435761L))
          .mod(lit(1000000007L)).as("hv"))
      .withColumn("b", shiftright(col("hv"), bucketShift))
    val subs = d.groupBy(col("b")).agg(sum(col("n_tokens")).as("t"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // exclusive prefix offsets in bucket order — driver-side over a
    // dimension-sized relation (≤ 2^(30-bucketShift) buckets), the
    // documented collect class (q64's subtotals)
    var acc = 0L
    val offs = subs.sortBy(_._1).map { case (b, t) =>
      val o = (b, acc); acc += t; o
    }
    val offDf = offs.toSeq.toDF("b", "off")
    val parted = d.join(broadcast(offDf), Seq("b"))
      .repartition(col("b"))
      .sortWithinPartitions(col("b"), col("hv"), col("doc_id"))
      .select(col("doc_id"), col("b"), col("n_tokens"), col("off"))
      .as[(Long, Long, Long, Long)]
    parted.mapPartitions { it =>
      var curB = Long.MinValue
      var run = 0L
      it.map { case (id, b, n, off) =>
        if (b != curB) { curB = b; run = off }
        val start = run
        run += n
        (id, n, start)
      }
    }.toDF("doc_id", "n_tokens", "start_off")
      // split("", " ") is [""] on both engines, so n_tokens >= 1 and the
      // last-token index start_off + n_tokens - 1 is always well-defined
      .withColumn("seq_first", expr(s"start_off div ${seqLen}L"))
      .withColumn("seq_last", expr(s"(start_off + n_tokens - 1) div ${seqLen}L"))
      // per-document output: parallel range sort (see orderedOutput)
      .orderedOutput(col("doc_id"))
  }

  /** The dataset-build capstone (q100): the END-TO-END manifest a shard
    * writer publishes after the whole curation pipeline runs as ONE
    * composed plan — rule filter (q65 keep) → exact-dedup canonical pick
    * (q22 min-id convention) → per-source token-budget mix (q64
    * semantics, windowless two-phase prefix sum) → deterministic shard
    * assignment (q87 hash) — reporting, per shard: kept documents, total
    * tokens, and the `seqLen`-token training-sequence count
    * (⌈tokens/seqLen⌉, per-shard packing).
    *
    * Catalyst keeps the filter + dedup-join + token count a single pass
    * over documents (broadcast canonical side); the only wide stages are
    * the dedup groupBy, the mix's bucket repartition, and the final
    * shard-sized aggregate. Every keep decision reuses the SHARED
    * portable doc hash, so this manifest is consistent with what
    * q59/q64/q68/q87/q95 would each report in isolation. */
  def mixManifest(documents: DataFrame, budget: Long = 1000L,
                  nShards: Int = 64, seqLen: Int = 512): DataFrame = {
    val kept = documents.withColumn("mask", PipelineQueries.ruleMask)
      .filter(col("mask") === 0)
      .select(col("doc_id"), col("source"), col("text"))
    val canon = kept.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_doc"))
    val dd = kept.join(canon, md5(col("text")) === col("h") &&
        col("doc_id") === col("keep_doc"))
      .select(col("doc_id"), col("source"), col("text"))
    PipelineQueries.tokenBudgetMix(dd, budget, sorted = false)
      .withColumn("hv", ((col("doc_id") % lit(1000000007L)) *
        lit(2654435761L)).mod(lit(1000000007L)))
      .groupBy((col("hv") % nShards).as("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_toks"))
      .select(col("shard"), col("n_docs"), col("n_toks").as("n_tokens"),
        expr(s"(n_toks + ${seqLen - 1}) div $seqLen").as("n_sequences"))
      .orderedResult(col("shard"))
  }

  /** Centroid-distance outlier scoring (the SemDeDup/D4 semantic-quality
    * signal): each vector's cosine against ITS OWN cluster's centroid —
    * low scorers are the semantic outliers a curation pipeline down-weights
    * or re-clusters. Cells here are the `label` column (the q39
    * convention; [[AnnQueries.kmeansCells]] supplies real cells at scale).
    *
    * Shape: centroids are cells × dim (dimension-sized → broadcast); the
    * score pass is one broadcast join + a codegen'd dot product per row.
    * Float: rounded to 6 decimals — the q39/q52 precedent (centroid sums
    * differ from DuckDB only in summation order; verified exact at all
    * three SFs there). */
  def centroidOutlier(embeddings: DataFrame): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("label"),
      transform(col("embedding"), _.cast("double")).as("v"))
    val cents = AnnQueries.centroids(embeddings)
      .select(col("label"), col("centroid"),
        sqrt(AnnQueries.dot(col("centroid"), col("centroid"))).as("cnorm"))
    e.join(broadcast(cents), Seq("label"))
      .select(col("vec_id"), col("label"),
        round(AnnQueries.dot(col("v"), col("centroid")) /
          (sqrt(AnnQueries.dot(col("v"), col("v"))) * col("cnorm")), 6)
          .as("cos_c"))
      // per-vector output: parallel range sort (see orderedOutput)
      .orderedOutput(col("vec_id"))
  }

  /** Distributed BPE tokenizer training (Sennrich et al., ACL 2016, over
    * word symbols): `merges` rounds of [count adjacent symbol pairs →
    * argmax → merge everywhere]. The trained merge table is what a
    * production tokenizer ships; q23/q36's regex tokenizer only
    * approximates one.
    *
    * Cross-engine exactness via FIXED-WIDTH SYMBOL RENDERING: every
    * symbol is its md5's first 8 hex chars, documents are space-joined
    * renderings, and a merge is `replace(s, "L R", M)` — left-to-right
    * non-overlapping, the BPE application order. Because symbols are
    * exactly 8 chars, a "L R" match is always symbol-boundary-aligned
    * (a space can only occur at positions ≡ 8 mod 9), so DuckDB's
    * replace() reproduces each round bit-for-bit (the q52 unrolled-
    * iteration oracle pattern). Pair counting is per adjacent POSITION
    * (overlapping, the Sennrich convention); ties break on (count desc,
    * l, r) deterministically.
    *
    * Shape per round: one map-side-combinable pair count (pair vocab ≤
    * symbol vocab², dimension-sized at text scale), a ONE-ROW argmax
    * collect (the k-means-centroid collect class), and a compiled
    * per-row replace; the working relation is checkpoint-truncated each
    * round so round k's scan is O(1) deep, not O(k). At 100 TB a trainer
    * runs this on a corpus SAMPLE (the standard practice) and the encode
    * pass broadcasts the merge table — both shapes unchanged.
    *
    * The 8-hex rendering is a 32-bit symbol space — ample for the bench
    * vocabulary, birthday-collision-prone past ~10⁴ distinct symbols;
    * widen the substring (both engines' md5 agree at any width, and the
    * boundary-alignment argument only needs FIXED width) for production
    * vocabularies. */
  def bpeTrain(documents: DataFrame, merges: Int)
  : (DataFrame, DataFrame) = {
    val spark = documents.sparkSession
    import spark.implicits._
    val ckpt = Checkpoints.cycle()
    var cur = ckpt.truncate(documents.select(col("doc_id"),
      array_join(transform(split(col("text"), " "),
        w => substring(md5(w), 1, 8)), " ").as("s")))
    val table = Seq.newBuilder[(Int, String, String, String, Long)]
    for (step <- 1 to merges) {
      val sl = split(col("s"), " ")
      val top = cur.filter(size(sl) >= 2)
        .select(posexplode(arrays_zip(
          slice(sl, lit(1), size(sl) - 1).as("l"),
          slice(sl, lit(2), size(sl) - 1).as("r"))).as(Seq("i", "p")))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(1).collect() // ONE row — the argmax, k-means-collect class
      if (top.nonEmpty) {
        val (l, r, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        val m = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$l $r".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.substring(0, 8)
        table += ((step, l, r, m, c))
        cur = ckpt.truncate(cur.withColumn("s",
          regexp_replace(col("s"), java.util.regex.Pattern.quote(s"$l $r"), m)))
      }
    }
    (table.result().toDF("step", "l", "r", "merged", "cnt"), cur)
  }

  /** [[bpeTrain]] through one [[SharedRelations]] entry: q89 (merge
    * table) and q90 (encoded relation) share a single training run per
    * (input snapshot, merges) instead of each running the full driver
    * loop of aggregate+argmax collects and checkpointed rewrites. The
    * pair is stored as built — the identical DataFrames a direct call
    * returns. */
  private def bpeTrainShared(documents: DataFrame, merges: Int)
  : (DataFrame, DataFrame) =
    SharedRelations.group("bpe", Seq(documents), merges, 0) {
      val (table, encoded) = bpeTrain(documents, merges)
      Seq(table, encoded)
    } match { case Seq(table, encoded) => (table, encoded) }

  /** Generates the unrolled DuckDB twin of [[bpeTrain]]: t0 → (p1 → m1 →
    * t1) → … — the q52 pattern. `select` picks the final projection over
    * the m/t chain. */
  private def bpeOracleSql(merges: Int, select: String): String = {
    // AS MATERIALIZED on every t/m: each tᵢ has two consumers (pᵢ₊₁ and
    // tᵢ₊₁), so DuckDB's default CTE inlining would re-evaluate the
    // whole chain per reference — 2^merges blowup
    val steps = (1 to merges).map { i =>
      s"""p$i AS (SELECT sl[i] AS l, sl[i + 1] AS r, COUNT(*) AS c
         |  FROM (SELECT string_split(s, ' ') AS sl FROM t${i - 1}
         |        WHERE len(string_split(s, ' ')) >= 2),
         |       LATERAL unnest(generate_series(1, len(sl) - 1)) AS g(i)
         |  GROUP BY 1, 2),
         |m$i AS MATERIALIZED (SELECT l, r,
         |        substr(md5(l || ' ' || r), 1, 8) AS merged, c
         |        FROM p$i ORDER BY c DESC, l, r LIMIT 1),
         |t$i AS MATERIALIZED (SELECT doc_id,
         |    CASE WHEN (SELECT COUNT(*) FROM m$i) = 0 THEN s
         |         ELSE replace(s, (SELECT l || ' ' || r FROM m$i),
         |                         (SELECT merged FROM m$i)) END AS s
         |  FROM t${i - 1})"""
        .stripMargin
    }
    s"""WITH t0 AS MATERIALIZED (SELECT doc_id, array_to_string(
       |    list_transform(string_split(text, ' '),
       |                   w -> substr(md5(w), 1, 8)), ' ') AS s
       |  FROM documents),
       |${steps.mkString(",\n")}
       |$select""".stripMargin
  }

  val registry: Map[String, QueryDef] = Map(

    // ── BPE training: the 8-round merge table (rank, pair, merged
    //    symbol, count at selection time); the whole iterative loop
    //    re-derived in DuckDB via unrolled CTEs ──
    "q89_bpe_merges" -> QueryDef(
      (s, d) => bpeTrainShared(Tables.documents(s, d), merges = 8)._1
        .orderedResult(col("step")),
      Some(bpeOracleSql(8,
        (1 to 8).map(i =>
          s"SELECT $i AS step, l, r, merged, CAST(c AS BIGINT) AS cnt FROM m$i")
          .mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY step")))),

    // ── BPE encoding under the trained table: per-doc symbol count +
    //    md5 of the encoded stream ──
    "q90_bpe_encode" -> QueryDef(
      (s, d) => bpeTrainShared(Tables.documents(s, d), merges = 8)._2
        .select(col("doc_id"), size(split(col("s"), " ")).as("n_syms"),
          md5(col("s")).as("encoded_md5"))
        .orderedOutput(col("doc_id")),
      Some(bpeOracleSql(8,
        """SELECT doc_id, CAST(len(string_split(s, ' ')) AS INT) AS n_syms,
          |  md5(s) AS encoded_md5
          |FROM t8 ORDER BY doc_id""".stripMargin))),

    // ── corpus-global first-occurrence span dedup + reconstruction:
    //    oracle re-derives chunking, first-occurrence keys, and the md5
    //    of every reassembled document ──
    "q84_span_dedup_rewrite" -> QueryDef(
      (s, d) => spanDedupRewrite(Tables.documents(s, d)),
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
             |           WHERE len(string_split(text, ' ')) > 0),
             |c AS (SELECT doc_id, i AS pos,
             |    array_to_string(t[(i*10+1):(i*10+10)], ' ') AS chunk,
             |    doc_id * 1048576 + i AS k
             |  FROM d, LATERAL unnest(range(0, (len(t) - 1) // 10 + 1)) AS u(i)),
             |f AS (SELECT chunk, MIN(k) AS first_k FROM c GROUP BY chunk)
             |SELECT c.doc_id, COUNT(*) AS n_chunks,
             |  CAST(SUM(CASE WHEN c.k = f.first_k THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_kept,
             |  md5(coalesce(string_agg(CASE WHEN c.k = f.first_k THEN c.chunk END,
             |    ' ' ORDER BY c.pos), '')) AS cleaned_md5
             |FROM c JOIN f USING (chunk)
             |GROUP BY c.doc_id ORDER BY doc_id""".stripMargin)),

    // ── PQ ANN: 8 subspaces × 16 first-k codebooks, integer-exact codes
    //    + ADC distances; probe = lowest vec_id; full construction
    //    re-derived in DuckDB ──
    "q85_pq_ann" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        pqSearch(e, e.join(broadcast(e.groupBy()
          .agg(min(col("vec_id")).as("vec_id"))), Seq("vec_id")))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |dims AS (SELECT unnest(range(1, (SELECT len(v) FROM e LIMIT 1) + 1)) AS pos),
             |ex AS (SELECT vec_id, pos, (pos - 1) // 8 AS sub,
             |    CAST(floor(v[CAST(pos AS INT)] * 1048576) AS BIGINT) AS xi
             |  FROM e, dims),
             |r AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c
             |      FROM (SELECT vec_id FROM e ORDER BY vec_id LIMIT 16)),
             |cents AS (SELECT r.c, ex.sub, ex.pos, ex.xi AS ci
             |          FROM r JOIN ex USING (vec_id)),
             |dist AS (SELECT ex.vec_id, ex.sub, ct.c,
             |    SUM((ex.xi - ct.ci) * (ex.xi - ct.ci)) AS d
             |  FROM ex JOIN cents ct ON ex.sub = ct.sub AND ex.pos = ct.pos
             |  GROUP BY 1, 2, 3),
             |codes AS (SELECT vec_id, sub, c FROM (
             |    SELECT vec_id, sub, c,
             |      ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d, c) AS rn
             |    FROM dist) WHERE rn = 1),
             |probe AS (SELECT sub, pos, xi AS pi FROM ex
             |          WHERE vec_id = (SELECT MIN(vec_id) FROM e)),
             |lut AS (SELECT ct.sub, ct.c, SUM((p.pi - ct.ci) * (p.pi - ct.ci)) AS lut
             |        FROM cents ct JOIN probe p ON ct.sub = p.sub AND ct.pos = p.pos
             |        GROUP BY 1, 2)
             |SELECT codes.vec_id, CAST(SUM(l.lut) AS BIGINT) AS adc_dist
             |FROM codes JOIN lut l USING (sub, c)
             |GROUP BY 1 ORDER BY adc_dist, vec_id LIMIT 10""".stripMargin)),

    // ── DSIR importance weights vs target src0: hashed-unigram buckets,
    //    integer ratio scores; full construction re-derived in DuckDB ──
    "q86_dsir_weights" -> QueryDef(
      (s, d) => dsirWeights(Tables.documents(s, d)),
      Some(s"""WITH t AS (SELECT doc_id, source,
             |    unnest(string_split(text, ' ')) AS token FROM documents),
             |tb AS (SELECT doc_id, source,
             |    ${tokenBucketSql(1024)} AS b FROM t),
             |r AS (SELECT b, COUNT(*) AS cr FROM tb GROUP BY b),
             |tt AS (SELECT b, COUNT(*) AS ct FROM tb WHERE source = 'src0' GROUP BY b),
             |w AS (SELECT r.b, coalesce(tt.ct, 0) * 1000000 // r.cr AS w
             |      FROM r LEFT JOIN tt USING (b))
             |SELECT tb.doc_id, COUNT(*) AS n_tokens,
             |  CAST(SUM(w.w) AS BIGINT) AS score
             |FROM tb JOIN w USING (b)
             |GROUP BY tb.doc_id ORDER BY doc_id""".stripMargin)),

    // ── hashed-feature class-profile classifier: train on even doc_ids
    //    (per-class smoothed bucket frequencies), predict odd doc_ids by
    //    integer linear score argmax; full construction re-derived in
    //    DuckDB. The synthetic corpus's lang column carries no textual
    //    signal (all langs share one token distribution), so predictions
    //    here collapse to the densest profile — the oracle still checks
    //    the whole train+score construction; AssemblySpec proves
    //    discrimination on a planted disjoint-vocabulary corpus ──
    "q105_class_profile" -> QueryDef(
      (s, d) => classProfileClassifier(Tables.documents(s, d)),
      Some(s"""WITH t AS (SELECT doc_id, lang,
             |    unnest(string_split(text, ' ')) AS token FROM documents),
             |tb AS (SELECT doc_id, lang, ${tokenBucketSql(1024)} AS b FROM t),
             |tr AS (SELECT * FROM tb WHERE doc_id % 2 = 0),
             |cls AS (SELECT lang AS class, COUNT(*) AS tot FROM tr GROUP BY 1),
             |cnt AS (SELECT lang AS class, b, COUNT(*) AS c FROM tr GROUP BY 1, 2),
             |grid AS (SELECT g.class, g.b,
             |    (COALESCE(cnt.c, 0) + 1) * 1000000000 // (g.tot + 1024) AS w
             |  FROM (SELECT class, tot, unnest(range(0, 1024)) AS b FROM cls) g
             |  LEFT JOIN cnt ON cnt.class = g.class AND cnt.b = g.b),
             |tf AS (SELECT doc_id, lang, b, COUNT(*) AS tf FROM tb
             |       WHERE doc_id % 2 = 1 GROUP BY 1, 2, 3),
             |sc AS (SELECT tf.doc_id, tf.lang, g.class, SUM(tf.tf * g.w) AS score
             |       FROM tf JOIN grid g USING (b) GROUP BY 1, 2, 3),
             |p AS (SELECT doc_id, lang, class, ROW_NUMBER() OVER (
             |        PARTITION BY doc_id ORDER BY score DESC, class) AS rn
             |      FROM sc)
             |SELECT doc_id, lang AS true_lang, class AS pred_lang,
             |  CAST(lang = class AS BIGINT) AS correct
             |FROM p WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // ── deterministic 64-shard assignment + within-shard sequence via
    //    two-phase prefix rank; oracle is the per-shard row_number twin ──
    "q87_shard_sequence" -> QueryDef(
      (s, d) => shardSequence(Tables.documents(s, d)),
      Some("""WITH d AS (SELECT doc_id,
             |    (doc_id % 1000000007 * 2654435761) % 1000000007 AS hv
             |  FROM documents)
             |SELECT doc_id, hv % 64 AS shard,
             |  ROW_NUMBER() OVER (PARTITION BY hv % 64 ORDER BY hv, doc_id) AS seq
             |FROM d ORDER BY doc_id""".stripMargin)),

    // ── the dataset-build capstone: rule filter → exact-dedup canonical
    //    → per-source token budget → shard manifest with sequence counts,
    //    one composed plan; the oracle re-runs the whole pipeline ──
    "q100_mix_manifest" -> QueryDef(
      (s, d) => mixManifest(Tables.documents(s, d)),
      Some("""WITH s AS (SELECT doc_id, source, text,
             |    len(string_split(text,' ')) AS n_tokens,
             |    CAST(LENGTH(text) - len(string_split(text,' ')) + 1 AS DOUBLE)
             |      / len(string_split(text,' ')) AS atl,
             |    CAST(len(list_filter(string_split(text,' '),
             |        t -> t IN ('the','data','row','scan','join','query'))) AS DOUBLE)
             |      / len(string_split(text,' ')) AS stop_ratio
             |  FROM documents),
             |kept AS (SELECT doc_id, source, text, CAST(n_tokens AS BIGINT)
             |    AS n_tokens FROM s
             |  WHERE NOT (n_tokens < 24 OR n_tokens > 88 OR atl < 4.0
             |             OR atl > 5.0 OR stop_ratio < 0.08)),
             |canon AS (SELECT md5(text) AS h, MIN(doc_id) AS keep_doc
             |          FROM kept GROUP BY 1),
             |dd AS (SELECT k.doc_id, k.source, k.n_tokens,
             |    (k.doc_id % 1000000007 * 2654435761) % 1000000007 AS hv
             |  FROM kept k JOIN canon c
             |    ON md5(k.text) = c.h AND k.doc_id = c.keep_doc),
             |m AS (SELECT * FROM (SELECT doc_id, n_tokens, hv,
             |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY hv, doc_id
             |      ROWS UNBOUNDED PRECEDING) AS cum FROM dd)
             |  WHERE cum <= 1000)
             |SELECT hv % 64 AS shard, COUNT(*) AS n_docs,
             |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
             |  CAST((SUM(n_tokens) + 511) // 512 AS BIGINT) AS n_sequences
             |FROM m GROUP BY 1 ORDER BY shard""".stripMargin)),

    // ── sequence packing: global (hv, doc_id)-ordered token offsets +
    //    first/last 512-token training-sequence indices via two-phase
    //    prefix sum; oracle is the global running-sum window twin ──
    "q95_sequence_pack" -> QueryDef(
      (s, d) => packSequences(Tables.documents(s, d)),
      Some("""WITH d AS (SELECT doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             |    (doc_id % 1000000007 * 2654435761) % 1000000007 AS hv
             |  FROM documents),
             |c AS (SELECT doc_id, n_tokens,
             |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY hv, doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS BIGINT) AS start_off
             |  FROM d)
             |SELECT doc_id, n_tokens, start_off,
             |  start_off // 512 AS seq_first,
             |  (start_off + n_tokens - 1) // 512 AS seq_last
             |FROM c ORDER BY doc_id""".stripMargin)),

    // ── per-vector cosine against its own label centroid (semantic
    //    outlier score); centroid math re-derived in DuckDB, rounded 6 ──
    "q88_centroid_outlier" -> QueryDef(
      (s, d) => centroidOutlier(Tables.embeddings(s, d)),
      Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |dims AS (SELECT unnest(range(1, (SELECT len(v) FROM e LIMIT 1) + 1)) AS pos),
             |ex AS (SELECT vec_id, label, pos, v[CAST(pos AS INT)] AS x FROM e, dims),
             |cents AS (SELECT label, pos, AVG(x) AS w FROM ex GROUP BY 1, 2),
             |cn AS (SELECT label, SQRT(SUM(w * w)) AS cnorm FROM cents GROUP BY 1),
             |vn AS (SELECT vec_id, SQRT(SUM(x * x)) AS vnorm FROM ex GROUP BY 1),
             |dotp AS (SELECT ex.vec_id, ex.label, SUM(ex.x * c.w) AS dp
             |         FROM ex JOIN cents c USING (label, pos) GROUP BY 1, 2)
             |SELECT d.vec_id, d.label, ROUND(d.dp / (vn.vnorm * cn.cnorm), 6) AS cos_c
             |FROM dotp d JOIN vn USING (vec_id) JOIN cn USING (label)
             |ORDER BY vec_id""".stripMargin))
  )
}
