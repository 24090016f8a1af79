package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import QueryDef.OrderedResultOps

/** Training-data-pipeline battery #3: the corpus-curation steps DOWNSTREAM
  * of candidate generation — duplicate-group resolution (connected
  * components + canonical pick), retrieval scoring (BM25), deterministic
  * stratified sampling, and document chunking. Everything here is
  * oracle-checked: edges/hashes/scores use only arithmetic both engines
  * reproduce bit-for-bit (no xxhash64 in result-bearing positions). */
object PipelineQueries {

  /** The LSH length pre-filter: whether a candidate pair of distinct-
    * token counts `n1`, `n2` can reach token-Jaccard `threshold`. The
    * verify step admits a pair when `|A∩B| / |A∪B| >= threshold` in
    * double arithmetic; since |A∩B| ≤ min(n₁,n₂) and |A∪B| ≥ max(n₁,n₂),
    * and correctly rounded division is monotone, a pair it admits has
    * `min / max >= threshold` in the same arithmetic. So this prunes only
    * pairs verification rejects, at any count (an Int count converts to
    * double exactly), with no slack: a pair with min = t·max is kept.
    * Two empty sets (max 0) are left to verification. */
  private[operators] def lengthAdmits(n1: Column, n2: Column,
                                      threshold: Double): Column = {
    val hi = greatest(n1, n2).cast("double")
    when(hi === 0.0, lit(true))
      .otherwise(least(n1, n2).cast("double") / hi >= lit(threshold))
  }

  private def tokens(c: org.apache.spark.sql.Column) = split(c, " ")

  /** Multiplicative content hash of doc_id, shared by the sampling (q59),
    * mixing (q64) and split-gate (q68) stages so their keep decisions stay
    * consistent across the pipeline. doc_id is reduced mod p BEFORE the
    * multiply: keeps the product under 2^63 for ANY 64-bit doc id
    * (unreduced, ids past ~3.4e9 would overflow under ANSI mode); identity
    * for ids < p. Range: [0, 1e9+7). */
  private[operators] def docHash: org.apache.spark.sql.Column =
    ((col("doc_id") % lit(1000000007L)) * lit(2654435761L)) % lit(1000000007L)

  /** q59's WINDOW formulation — exact per-stratum quota via
    * `row_number over (partition by source order by hv, doc_id)`. Correct,
    * and the one the SQL oracle uses, but the window serializes each
    * stratum through ONE task: at corpus scale a training mix has few,
    * huge sources (CommonCrawl is most of the data), so the whole
    * stratum's stream sorts through a single core. Kept as the
    * ground-truth twin for [[stratifiedSample]] (spec-pinned equal). */
  def stratifiedSampleByRank(docs: org.apache.spark.sql.DataFrame,
                             rate: Double): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), col("source"), docHash.as("hv"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("hv"), col("doc_id"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("source"))))
      .filter(col("rk") <= ceil(col("n") * rate))
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))

  /** Scale-safe exact-quota stratified sampling (q59): selects the same
    * rows as [[stratifiedSampleByRank]] — the k = ceil(n·rate) smallest
    * (hv, doc_id) pairs per source — WITHOUT a per-stratum window.
    *
    * Hash-threshold selection: because hv is (near-)uniform on [0, p),
    * the k-th order statistic is located by histogram, not by sorting:
    *  1. per-(source, bucket) counts, bucket = hv >> bucketShift — a
    *     dimension-sized relation (sources × ≤ p/2^shift rows), so the
    *     cumulative window over IT is cheap;
    *  2. the cutoff bucket per source is the one whose cumulative range
    *     straddles k; rank ONLY that bucket's rows (≤ n/buckets per
    *     source per task — bucketShift is the bound knob: the default 14
    *     gives 2^16 buckets, so even a 10^11-row source funnels ≤ ~1.5M
    *     rows through the cutoff-bucket window while the histogram stays
    *     sources × 65k; push lower for bigger strata) to find the exact
    *     k-th (hv, doc_id) threshold;
    *  3. filter the corpus by the broadcast thresholds — embarrassingly
    *     parallel, no per-stratum funnel.
    * Three column-pruned scans of (doc_id, source) replace one
    * single-task-per-source sort; at 100 TB the scans parallelize across
    * the cluster while the window shape walls at the biggest source. */
  def stratifiedSample(docs: org.apache.spark.sql.DataFrame, rate: Double,
                       bucketShift: Int = 14): org.apache.spark.sql.DataFrame = {
    val d = docs.select(col("doc_id"), col("source"), docHash.as("hv"))
    val bucket = shiftright(col("hv"), bucketShift)
    val hist = d.groupBy(col("source"), bucket.as("b"))
      .agg(count(lit(1)).as("cnt"))
    val wSrc = Window.partitionBy(col("source")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = hist.withColumn("cum_before",
      coalesce(sum(col("cnt")).over(wSrc), lit(0L)))
    val quota = hist.groupBy(col("source"))
      .agg(ceil(sum(col("cnt")) * rate).cast("long").as("k"))
    val cut = cum.join(quota, Seq("source"))
      .filter(col("cum_before") < col("k") &&
        col("cum_before") + col("cnt") >= col("k"))
      .select(col("source"), col("b").as("cut_b"),
        (col("k") - col("cum_before")).as("r_in_bucket"))
    // rank only the cutoff bucket's rows; the window partition is bounded
    // by the bucket population, not the stratum
    val thr = d.join(broadcast(cut), Seq("source"))
      .filter(bucket === col("cut_b"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("hv"), col("doc_id"))))
      .filter(col("rk") === col("r_in_bucket"))
      .select(col("source"), col("hv").as("thr_hv"), col("doc_id").as("thr_id"))
    d.join(broadcast(thr), Seq("source"))
      .filter(col("hv") < col("thr_hv") ||
        (col("hv") === col("thr_hv") && col("doc_id") <= col("thr_id")))
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** q64's WINDOW formulation — running token sum via
    * `sum over (partition by source order by hv, doc_id rows unbounded
    * preceding)`: the same one-task-per-stratum wall as
    * [[stratifiedSampleByRank]]. Kept as the ground-truth twin for
    * [[tokenBudgetMix]] (spec-pinned equal). */
  def tokenBudgetMixWindow(docs: org.apache.spark.sql.DataFrame,
                           budget: Long): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("hv"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tokens"), docHash.as("hv"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budget)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Scale-safe token-budget corpus mixing (q64): identical output to
    * [[tokenBudgetMixWindow]] via the classic TWO-PHASE DISTRIBUTED PREFIX
    * SUM instead of a per-stratum running-sum window.
    *
    *  1. per-(source, bucket) token subtotals (bucket = hv >> bucketShift;
    *     the bucket order IS the per-source (hv, doc_id) order, coarsened)
    *     — a dimension-sized aggregate, collected and turned into
    *     exclusive per-source prefix OFFSETS;
    *  2. buckets whose offset already exceeds the budget are pruned
    *     BEFORE the shuffle — only each source's budget-prefix moves;
    *  3. survivors hash-partition by bucket, sort within partitions by
    *     (bucket, source, hv, doc_id), and a single mapPartitions pass
    *     seeds each (bucket, source) segment with its offset and emits
    *     exact running sums.
    * Every step is deterministic (no range-partitioner sampling) and no
    * task ever holds more than a bucket of one source — the giant-source
    * corpus that serializes the window shape parallelizes here. The
    * default shift 18 (4096 buckets) sets both the shuffle parallelism
    * cap (phase-2 hash-partitions by bucket) and the driver offsets size
    * (sources × occupied buckets). */
  def tokenBudgetMix(docs: org.apache.spark.sql.DataFrame, budget: Long,
                     bucketShift: Int = 18,
                     sorted: Boolean = true): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val d = docs
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tokens"), docHash.as("hv"))
      .withColumn("b", shiftright(col("hv"), bucketShift))
    val subs = d.groupBy(col("source"), col("b"))
      .agg(sum(col("n_tokens")).as("sub"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // exclusive prefix offsets per source in bucket order — driver-side
    // over a dimension-sized relation (sources × buckets), the documented
    // collect class (same as k-means centroid seeds)
    val offsets = subs.groupBy(_._1).iterator.flatMap { case (_, rows) =>
      var acc = 0L
      rows.sortBy(_._2).map { case (src, bk, sub) =>
        val o = (src, bk, acc); acc += sub; o
      }
    }.toSeq
    val offDf = offsets.toDF("source", "b", "off")
    val shift = bucketShift
    val parted = d.join(broadcast(offDf), Seq("source", "b"))
      .filter(col("off") <= budget) // bucket can't contribute once offset passes budget
      .repartition(col("b"))
      .sortWithinPartitions(col("b"), col("source"), col("hv"), col("doc_id"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("hv"), col("off"))
      .as[(Long, String, Long, Long, Long)]
    parted.mapPartitions { it =>
      var curB = Long.MinValue
      var curS: String = null
      var run = 0L
      it.map { case (id, src, nt, hv, off) =>
        val bk = hv >> shift
        if (bk != curB || src != curS) { curB = bk; curS = src; run = off }
        run += nt
        (id, src, nt, run)
      }
    }.toDF("doc_id", "source", "n_tokens", "cum_tokens")
      .filter(col("cum_tokens") <= budget)
      // sorted=false for mid-pipeline consumers (the q100 manifest):
      // a registry output sorts, an aggregation input must not
      .transform(df => if (sorted) df.orderBy(col("doc_id")) else df)
  }

  /** q65's reason bitmask over a `text` column (1 = token count outside
    * [24,88], 2 = mean token length outside [4,5], 4 = stopword ratio
    * < 0.08) — shared with the streaming curation pipeline
    * ([[graft.streaming.DocStream]]). */
  private[graft] def ruleMask: org.apache.spark.sql.Column = {
    val tk = tokens(col("text"))
    val nTok = size(tk)
    val atl = (length(col("text")) - nTok + 1).cast("double") / nTok
    val stopRatio = size(filter(tk,
      t => t.isInCollection(Seq("the", "data", "row", "scan", "join", "query"))))
      .cast("double") / nTok
    when(nTok < 24 || nTok > 88, 1).otherwise(0) +
      when(atl < 4.0 || atl > 5.0, 2).otherwise(0) +
      when(stopRatio < 0.08, 4).otherwise(0)
  }

  /** Graph-centrality quality weighting (the CommonCrawl-lineage signal:
    * rank pages by link centrality and up-weight the central ones) over
    * the corpus's own duplicate graph: integer-scaled PageRank, damping
    * 0.85, `iterations` synchronous power-iteration rounds. Central
    * documents of a near-dup cluster are its "canonical-ish" members; a
    * curation pipeline keeps the top-ranked representative (a richer
    * choice than q57's min-id canonical pick).
    *
    * Cross-engine exactness (the q89/q52 iterative discipline): ranks are
    * BIGINTs at 10⁶ scale; a node's per-edge contribution is
    * `pr div degree` and the damped update is `150000 + (85 · Σ contrib)
    * div 100` — integer div only, so both engines agree bit-for-bit.
    * Isolated nodes hold the teleport mass 150000 and dangling mass is
    * dropped (the standard no-redistribution variant; the graph is
    * undirected so every edge endpoint has degree ≥ 1).
    *
    * Shape: the edge set is the PREFIX-FILTERED similarity join (q56's
    * scale shape, sorted=false — never funneled), checkpoint-truncated
    * once and reused every round; each round is one broadcastable degree
    * join + one edge-keyed shuffle sum (pregel-style message passing as
    * two relational ops) + a checkpoint truncation, so round k's plan is
    * O(1) deep. Degrees are bounded by near-dup cluster sizes — no hub
    * skew beyond what the similarity threshold already bounds. */
  def pageRank(documents: org.apache.spark.sql.DataFrame, iterations: Int = 5,
               threshold: Double = 0.4): org.apache.spark.sql.DataFrame = {
    pageRankShared(documents, iterations, threshold)
      .orderedOutput(col("doc_id"))
  }

  /** The q96/q99 PageRank relation through the shared-relation cache
    * (r11): both entries ran the full 5-iteration loop (each round a
    * join + keyed sum + checkpoint) over the identical t = 0.4 edge
    * set; one run serves both. UNORDERED (q99 joins over it; q96
    * applies the ordered tail). The edge set itself is the TIERED base
    * the 0.5 consumers (q57/q81/q110) filter from — one exact
    * similarity join per registry pass. */
  private def pageRankShared(documents: org.apache.spark.sql.DataFrame,
                             iterations: Int, threshold: Double)
  : org.apache.spark.sql.DataFrame = {
    val pairs = DedupQueries.tokenPrefixEdgesAtLeast(documents, threshold)
      .select(col("id1"), col("id2"))
    SharedRelations("prank", documents,
      math.round(threshold * 1000000).toInt, iterations)(
      pageRankOn(documents.select(col("doc_id")), pairs, iterations))
  }

  /** [[pageRank]]'s iteration over a caller-supplied undirected pair set
    * (also composed by q99 with connected components over the SAME edge
    * relation). Returns UNORDERED (doc_id, pr). */
  private[operators] def pageRankOn(nodes: org.apache.spark.sql.DataFrame,
                                    pairs: org.apache.spark.sql.DataFrame,
                                    iterations: Int)
  : org.apache.spark.sql.DataFrame = {
    // the static adjacency lives for all rounds: its own cycle (the
    // k-means cents/assigned precedent — the pr round cycle would delete
    // it). Degree is FOLDED INTO the edge relation once, so each round
    // is ONE join + one keyed sum instead of a deg recompute + two joins.
    val ckptStatic = Checkpoints.cycle()
    val prCycle = Checkpoints.cycle()
    val sym = pairs.select(col("id1").as("src"), col("id2").as("dst"))
      .unionByName(pairs.select(col("id2").as("src"), col("id1").as("dst")))
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("d"))
    val adj = ckptStatic.truncate(sym.join(deg, Seq("src")))
    var pr = nodes.withColumn("pr", lit(1000000L))
    for (_ <- 1 to iterations) {
      val incoming = adj.join(pr, adj("src") === pr("doc_id"))
        .select(col("dst"), expr("pr div d").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("m"))
      pr = prCycle.truncate(
        nodes.join(incoming, nodes("doc_id") === incoming("dst"), "left")
          .select(col("doc_id"),
            (lit(150000L) + expr("(85 * coalesce(m, 0L)) div 100")).as("pr")))
    }
    // the final pr checkpoint is the returned result — leave it live
    // (the caller consumes it); adj retires one directory per job.
    pr
  }

  /** The pr-chain CTE fragment of [[pageRankOn]] (the q89 unrolled
    * pattern): e/deg/n/pr₀ → pr₁ → … over an existing `pairs` CTE and
    * the `documents` table — every prᵢ MATERIALIZED (two consumers).
    * Shared by the q96 oracle and q99's composed oracle. */
  private def pageRankCtes(iterations: Int): String = {
    val steps = (1 to iterations).map { i =>
      s"""pr$i AS MATERIALIZED (SELECT n.doc_id,
         |    150000 + CAST((85 * COALESCE(SUM(c.c), 0)) // 100 AS BIGINT) AS pr
         |  FROM n LEFT JOIN (
         |    SELECT e.dst, pr${i - 1}.pr // deg.d AS c
         |    FROM e JOIN pr${i - 1} ON e.src = pr${i - 1}.doc_id
         |         JOIN deg ON e.src = deg.src) c
         |    ON n.doc_id = c.dst
         |  GROUP BY n.doc_id)""".stripMargin
    }
    s"""e AS MATERIALIZED (SELECT id1 AS src, id2 AS dst FROM pairs
       |     UNION ALL SELECT id2, id1 FROM pairs),
       |deg AS MATERIALIZED (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
       |n AS MATERIALIZED (SELECT doc_id FROM documents),
       |pr0 AS MATERIALIZED (SELECT doc_id, CAST(1000000 AS BIGINT) AS pr FROM n),
       |${steps.mkString(",\n")}""".stripMargin
  }

  private def pageRankOracleSql(iterations: Int, t: Double): String =
    s"""WITH ${jaccardPairsCte(t)},
       |${pageRankCtes(iterations)}
       |SELECT doc_id, pr FROM pr$iterations ORDER BY doc_id""".stripMargin

  /** Duplicate-cluster canonical selection by CENTRALITY (the curation
    * composition the two graph operators build toward): connected
    * components resolve WHO is a duplicate of whom (q57 semantics),
    * PageRank over the SAME edge relation resolves which member is most
    * central, and each cluster keeps its top-ranked member (ties → min
    * doc_id) — a richer canonical pick than q57's min-id convention (the
    * most-linked member is the best-connected representative of the
    * cluster's content).
    *
    * Shape: the pair set is computed ONCE (prefix-filtered join,
    * checkpoint-truncated) and feeds both star-contraction components
    * and the PageRank rounds; the final pick is one join + a per-cluster
    * max(struct) argmax — map-side combinable, no rank window. */
  def canonicalByRank(documents: org.apache.spark.sql.DataFrame,
                      iterations: Int = 5, threshold: Double = 0.4)
  : org.apache.spark.sql.DataFrame = {
    // the shared (persisted) edge relation replaces the former
    // per-query checkpoint: q96 derives the identical t=0.4 edges, and
    // persist gives the same one-materialization property the cycle did
    val pairs = DedupQueries.tokenPrefixEdgesAtLeast(documents, threshold)
      .select(col("id1"), col("id2"))
    val nodes = documents.select(col("doc_id"))
    val comps = ConnectedComponents.components(
      nodes.select(col("doc_id").as("id")),
      pairs.select(col("id1").as("u"), col("id2").as("v")))
    // shared with q96 (r11): identical iteration over identical edges
    val pr = pageRankShared(documents, iterations, threshold)
    comps.join(pr, comps("id") === pr("doc_id"))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"),
        max(struct(col("pr").as("pr"), (-col("doc_id")).as("negid"))).as("m"))
      .select(col("component"), col("cluster_size"),
        (-col("m.negid")).as("keep_doc"), col("m.pr").as("keep_pr"))
      .orderedResult(col("component"))
  }

  /** Bloom-prefiltered decontamination (q111): q61's contract — per
    * training doc, how many of its distinct 8-char-gram fingerprints
    * appear in ANY eval (src0) document — with the corpus-side join
    * input cut by a broadcast Bloom filter before anything shuffles.
    *
    * Three regimes for the eval side at scale: small → broadcast the
    * exact long set (q61); medium → broadcast a Bloom of it (~10 bits
    * per gram at 1% FPP vs 64+ for the exact set) and keep the exact
    * set only for the post-filter verify join; huge → shuffle join
    * (no broadcast at all). The bloom is built with one `treeAggregate`
    * pass over the (dimension-sized) eval gram set via
    * `DataFrameStatFunctions.bloomFilter`, embedded in the plan as a
    * BINARY literal, and probed by Spark's native
    * [[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]]
    * — codegen'd, no UDF in the corpus-side hot path. False positives
    * only add rows the exact verify join then rejects, so the output is
    * bit-identical to q61 (same oracle). */
  def bloomDecontaminate(documents: org.apache.spark.sql.DataFrame,
                         fpp: Double = 0.01): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graft.ColumnBridge
    val g = documents.select(col("doc_id"), col("source"),
      array_distinct(graft.functions.GramHashArray(col("text"))).as("gs"))
    // the eval gram set has two consumers (bloom build, verify join) and
    // two actions run against it — materialize it once
    val ev = Checkpoints.truncate(
      g.filter(col("source") === "src0").select(explode(col("gs")).as("g")).distinct())
    val nEv = math.max(ev.count(), 1L)
    val bloom = ev.stat.bloomFilter("g", nEv, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    val might = ColumnBridge.column(BloomFilterMightContain(
      Literal.create(bytes, org.apache.spark.sql.types.BinaryType),
      ColumnBridge.expression(col("g"))))
    val tr = g.filter(col("source") =!= "src0")
      .select(col("doc_id"), explode(col("gs")).as("g"))
      .filter(might)
    tr.join(ev, Seq("g"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
      .orderedOutput(col("doc_id"))
  }

  /** Fuzzy benchmark decontamination (q133) — q61's contract lifted
    * from exact 8-gram overlap to NEAR-duplicate detection: a training
    * document (source ≠ src0) is contaminated when some eval document
    * rewrites it at token-Jaccard ≥ `threshold`, the paraphrase /
    * light-edit leakage the exact gram scrub cannot see (an eval item
    * reworded for the benchmark shares almost no 8-char window with
    * its source — the same measurement that drove q128's token
    * banding, PERF r10).
    *
    * Shape is the asymmetric LSH rung, not an all-pairs: both sides
    * carry TOKEN-minhash bands ([[DedupQueries.minhashBandedTokens]],
    * the registered 8×4 layout), candidates form ONLY where a training
    * band collides with an EVAL band — the eval side is
    * dimension-sized (held-out suites, not the corpus), so its banded
    * relation and token sets broadcast and the corpus side is one
    * map-side pass per band; train×train candidates never form. Every
    * candidate is exact-verified at token-Jaccard ≥ t before reporting
    * (LSH only generates, never decides — the q128 discipline), so
    * false positives are impossible and recall is what banding grants,
    * MEASURED by the q134 certificate. Per contaminated doc:
    * match count, the best-matching eval doc (highest Jaccard, ties to
    * the smallest eval id) and its score. */
  def fuzzyDecontaminate(documents: org.apache.spark.sql.DataFrame,
                         threshold: Double = 0.8,
                         bands: Int = LshBands,
                         rowsPerBand: Int = LshRows)
  : org.apache.spark.sql.DataFrame =
    QueryDef.bestMatchRollup(
      fuzzyDeconMatches(documents, threshold, bands, rowsPerBand),
      "doc_id", "eval_id", "jac",
      "n_eval_matches", "best_eval_id", "best_jac")

  /** The verified (train doc, eval doc, jac ≥ t) match relation of
    * q133/q134 — shared through the registry relation cache (the
    * q125/q128/q132 edge-set discipline: the certificate re-consumes
    * the rung's matches, one registry pass builds them once). */
  private[graft] def fuzzyDeconMatches(documents: org.apache.spark.sql.DataFrame,
                                threshold: Double,
                                bands: Int, rowsPerBand: Int)
  : org.apache.spark.sql.DataFrame =
    SharedRelations("fdecon", documents,
      math.round(threshold * 1000000).toInt, bands * 100 + rowsPerBand) {
      val bandKey = Seq("band", "s0", "s1", "s2", "s3")
      val ev = documents.filter(col("source") === "src0")
      val tr = documents.filter(col("source") =!= "src0")
      // per-doc signatures are independent, so banding a source slice
      // equals slicing the full banded relation — r12: both slices now
      // READ the one registry-shared banding pass instead of re-signing
      // their own slice of the corpus (guide §1.2)
      val bandedAll = DedupQueries.minhashBandedTokensShared(
        documents, bands, rowsPerBand)
      val trB = bandedAll.filter(col("source") =!= "src0").drop("source")
      val evB = bandedAll.filter(col("source") === "src0").drop("source")
        .withColumnRenamed("doc_id", "eval_id").withColumnRenamed("n", "ne")
      // LENGTH pre-filter on band candidates ([[lengthAdmits]]):
      // prunes candidate pairs before the array-verify join ever
      // materializes their token arrays
      val cand = trB.join(broadcast(evB), bandKey)
        .filter(lengthAdmits(col("n"), col("ne"), threshold))
        .select(col("doc_id"), col("eval_id")).distinct()
      val evToks = ev.select(col("doc_id").as("eval_id"),
        array_distinct(split(col("text"), " ")).as("et"))
      val trToks = tr.select(col("doc_id"),
        array_distinct(split(col("text"), " ")).as("t"))
      cand.join(trToks, Seq("doc_id"))
        .join(broadcast(evToks), Seq("eval_id"))
        .withColumn("jac",
          size(array_intersect(col("t"), col("et"))).cast("double")
            / size(array_union(col("t"), col("et"))))
        .filter(col("jac") >= threshold)
        .select(col("doc_id"), col("eval_id"), col("jac"))
    }

  /** Recall certificate for the q133 fuzzy-decontamination rung (q134)
    * — the q132 discipline applied to the decontamination family: per
    * SOURCE, how many exactly-contaminated training docs (ANY eval doc
    * at token-Jaccard ≥ t — the brute train×eval yardstick) the LSH
    * rung flags, in documents and in token mass. Verified q133 matches
    * are a subset of the exact matches by construction, so each recall
    * ∈ [0, 1] and measures exactly what banding grants. The yardstick
    * arm is EXACT but not brute: r12 replaced the broadcast cross join
    * (|train|·|eval| array intersections — the most expensive single
    * pass of the certificate) with [[DedupQueries.tokenProbeJoin]],
    * the prefix-filtered asymmetric set-similarity join q80 already
    * runs (index = the dimension-sized eval suite, probe = the
    * corpus). The prefix theorem admits a candidate SUPERSET of the
    * true pairs and every candidate verifies against the full arrays
    * with the same |∩|/(n₁+n₂−|∩|) float chain the cross join
    * evaluated, so the qualifying pair set — and hence the flagged
    * doc set — is bit-identical (PipelineQueriesSpec pins the arm
    * against the brute cross join; the DuckDB oracle re-derives the
    * brute form every gate run). Cost: one corpus tokenize+rank pass
    * plus eval-sized posting joins — linear in the corpus like the
    * LSH arm itself (guide §3.2's pre-filter discipline). */
  def fuzzyDeconRecall(documents: org.apache.spark.sql.DataFrame,
                       threshold: Double = 0.8,
                       bands: Int = LshBands,
                       rowsPerBand: Int = LshRows)
  : org.apache.spark.sql.DataFrame = {
    val ev = documents.filter(col("source") === "src0")
    val tr = documents.filter(col("source") =!= "src0")
    val trMeta = tr.select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val exact = DedupQueries.tokenProbeJoin(ev, tr, threshold)
      .select(col("id_probe").as("doc_id")).distinct()
    val flagged = fuzzyDeconMatches(documents, threshold, bands, rowsPerBand)
      .select(col("doc_id")).distinct().withColumn("hit", lit(1))
    exact.join(trMeta, Seq("doc_id"))
      .join(flagged, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs_exact"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_docs_lsh"),
        sum(col("n_tokens")).cast("long").as("tokens_exact"),
        sum(when(col("hit").isNotNull, col("n_tokens")).otherwise(0L))
          .cast("long").as("tokens_lsh"))
      .withColumn("doc_recall",
        col("n_docs_lsh").cast("double") / col("n_docs_exact"))
      .withColumn("token_recall",
        col("tokens_lsh").cast("double") / col("tokens_exact"))
      .orderedResult(col("source"))
  }

  /** Cross-corpus near-duplicate scrub (q137) — the cross-SNAPSHOT
    * dedup step of a crawl pipeline (drop new-snapshot documents
    * near-duplicating the previous snapshot): for every document of
    * the NEW corpus (double-digit sources, src10+), its token-Jaccard
    * ≥ t near-duplicates in the PREVIOUS corpus (single-digit sources
    * src1..src9; src0 stays the decon family's eval suite). This
    * completes the dedup matrix: within-corpus clustering (q128),
    * incremental probe (q80), corpus-vs-small-suite (q133) — and here
    * corpus-vs-CORPUS, where unlike q133 NEITHER side is
    * dimension-sized, so nothing broadcasts: candidates come from the
    * banded SHUFFLE equi-join of the two sides' token-minhash bands
    * (cross-side predicate only — within-snapshot pairs never form),
    * with the q30 heavy-bucket treatment: bucket keys hot across both
    * sides (≥ `heavyBucketThreshold` members — a degenerate shared
    * boilerplate text) route through [[Salting.saltedJoin]], which
    * splits the b·c per-bucket fan-out across `salt` tasks with an
    * IDENTICAL result set; everything else takes the plain join. Every
    * candidate is exact-verified before reporting (the family
    * invariant: LSH generates, never decides). Output per contaminated
    * new doc: match count, best previous-snapshot match (highest
    * Jaccard, ties to the smallest id) and its score. */
  def crossCorpusNearDups(documents: org.apache.spark.sql.DataFrame,
                          threshold: Double = 0.8,
                          bands: Int = LshBands,
                          rowsPerBand: Int = LshRows,
                          heavyBucketThreshold: Int = 4096,
                          salt: Int = 16,
                          // the snapshot split is an explicit caller
                          // contract (like the decon family's src0 eval
                          // contract), not an inferred heuristic: a
                          // source matching neither predicate is OUT OF
                          // SCOPE by contract, never silently misrouted
                          // (r10 advice). Defaults encode the testdata
                          // layout: src1..src9 = previous snapshot,
                          // src10+ = new snapshot, src0 = eval suite.
                          isOld: Column =
                            (length(col("source")) <= lit(4)) &&
                              (col("source") =!= "src0"),
                          isNew: Column = length(col("source")) > lit(4))
  : org.apache.spark.sql.DataFrame = {
    val bandKey = Seq("band", "s0", "s1", "s2", "s3")
    // banding the two corpora was the dominant pass (each side was
    // signed separately AND checkpoint-materialized because it feeds
    // two consumers — the heavy-bucket count and the filtered joins).
    // r12 (guide §1.2): both sides are now SLICES of the one registry-
    // shared persisted banding pass — per-doc signatures are
    // independent, so filtering the shared relation is bit-identical
    // to banding the filtered slice, and the persisted memo already
    // covers the multi-consumer reuse the checkpoints existed for.
    val bandedAll = DedupQueries.minhashBandedTokensShared(
      documents, bands, rowsPerBand)
    val oldB = bandedAll.filter(isOld).drop("source")
      .withColumnRenamed("doc_id", "old_id").withColumnRenamed("n", "no")
    val newB = bandedAll.filter(isNew).drop("source")
      .withColumnRenamed("n", "nn")
    // heavy buckets are few by definition: a broadcastable key list,
    // counted over BOTH sides so a bucket is wholly light or wholly
    // heavy on each
    val heavy = oldB.select(bandKey.map(col): _*)
      .unionByName(newB.select(bandKey.map(col): _*))
      .groupBy(bandKey.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= heavyBucketThreshold)
      .select(bandKey.map(col) :+ lit(true).as("__heavy"): _*)
    val oldF = oldB.join(broadcast(heavy), bandKey, "left")
    val newF = newB.join(broadcast(heavy), bandKey, "left")
    def side(df: org.apache.spark.sql.DataFrame, idCol: String,
             nCol: String, heavyOnly: Boolean) =
      (if (heavyOnly) df.filter(col("__heavy").isNotNull)
       else df.filter(col("__heavy").isNull))
        .select(bandKey.map(col) ++ Seq(col(idCol), col(nCol)): _*)
    // LENGTH pre-filter on bucket candidates ([[lengthAdmits]]):
    // prunes cross-snapshot collisions before the verify join touches
    // their token arrays
    val lenOk = lengthAdmits(col("nn"), col("no"), threshold)
    val light = side(newF, "doc_id", "nn", heavyOnly = false)
      .join(side(oldF, "old_id", "no", heavyOnly = false), bandKey)
      .filter(lenOk)
    val heavyPairs = Salting.saltedJoin(
      side(newF, "doc_id", "nn", heavyOnly = true),
      side(oldF, "old_id", "no", heavyOnly = true),
      bandKey, scatterCols = Seq(col("doc_id")), salt = salt)
      .filter(lenOk)
    val cand = light.unionByName(heavyPairs, allowMissingColumns = false)
      .select(col("doc_id"), col("old_id")).distinct()
    val toks = documents.select(col("doc_id"),
      array_distinct(split(col("text"), " ")).as("t"))
    QueryDef.bestMatchRollup(
      cand.join(toks, Seq("doc_id"))
        .join(toks.select(col("doc_id").as("old_id"), col("t").as("ot")),
          Seq("old_id"))
        .withColumn("jac",
          size(array_intersect(col("t"), col("ot"))).cast("double")
            / size(array_union(col("t"), col("ot"))))
        .filter(col("jac") >= threshold),
      "doc_id", "old_id", "jac",
      "n_old_matches", "best_old_id", "best_jac")
  }

  /** Layered contamination report (q136) — the decontamination
    * family's capstone, the table a data team actually reviews before
    * a training run: per training SOURCE, how many documents each
    * scrub layer flags — exact 8-gram overlap (the q61/q111 arm, via
    * the bloom-prefiltered path), fuzzy token-Jaccard ≥ 0.8 (the q133
    * LSH rung), embedding cosine ≥ 0.3 (the q135 probe-only rung,
    * vectors tied to docs by the shared id namespace) — plus the union
    * (`n_any`). The three layers see DIFFERENT leakage (verbatim spans
    * / paraphrase / translation), so the per-layer deltas are the
    * report's content: a source where n_semantic ≫ n_exact is leaking
    * translations the gram scrub cannot catch. Each arm is the
    * registered construction itself (the fuzzy match relation rides
    * the q133/q134 shared-relation cache), so the report's cost in a
    * registry pass is three flag joins and a per-source rollup. */
  def contaminationReport(documents: org.apache.spark.sql.DataFrame,
                          embeddings: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.DataFrame = {
    val ex = bloomDecontaminate(documents)
      .select(col("doc_id")).withColumn("xe", lit(1))
    val fz = fuzzyDeconMatches(documents, 0.8, LshBands, LshRows)
      .select(col("doc_id")).distinct().withColumn("xf", lit(1))
    val sem = AnnQueries.embedDeconFlagsShared(embeddings, documents)
      .select(col("vec_id").as("doc_id")).distinct().withColumn("xs", lit(1))
    documents.filter(col("source") =!= "src0")
      .select(col("doc_id"), col("source"))
      .join(ex, Seq("doc_id"), "left")
      .join(fz, Seq("doc_id"), "left")
      .join(sem, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("xe"), lit(0))).cast("long").as("n_exact"),
        sum(coalesce(col("xf"), lit(0))).cast("long").as("n_fuzzy"),
        sum(coalesce(col("xs"), lit(0))).cast("long").as("n_semantic"),
        sum(when(col("xe").isNotNull || col("xf").isNotNull
          || col("xs").isNotNull, 1).otherwise(0)).cast("long").as("n_any"))
      .orderedResult(col("source"))
  }

  /** Per-source triangle census of the duplicate graph (q110):
    * edges / wedges / triangles per source — the clustering-structure
    * diagnostic that separates chain-like duplication (scrape drift:
    * many wedges, few triangles) from clique-like duplication (mirrored
    * corpora: triangle-dense; transitivity 3T/W → 1). Degree-ordered
    * counting (Schank & Wagner 2005; the MapReduce formulation is Suri
    * & Vassilvitskii, WWW 2011):
    *
    *  1. orient every edge from the endpoint lower in the total order
    *     π(x) = (degree(x), x) to the higher;
    *  2. candidate wedges = the oriented self-join on the apex u,
    *     spokes π-ordered — each TRIANGLE's closing pair is generated
    *     exactly once, already oriented like its closing edge;
    *  3. triangles = candidates ⋈ oriented edges on the (spoke, spoke)
    *     key.
    *
    * Why orientation matters at scale: a plain wedge join fans out
    * quadratically in the MAX degree (a near-dup clique of c docs has a
    * c-degree hub → c² wedges at one key); π-orientation bounds every
    * out-degree by O(√m), so per-key fan-out — and each triangle is
    * counted once with no /3 correction or global dedup.
    *
    * Two wedge columns, both aggregates over degree relations with no
    * wedge materialization: `n_wedges` is the GRAPH's wedge count
    * Σ C(deg, 2) over undirected degrees (the transitivity
    * denominator — 3·n_triangles / n_wedges is the standard clustering
    * coefficient); `n_wedge_checks` is Σ C(outdeg, 2) over the
    * π-orientation — the number of candidate pairs the closing join
    * actually examines, i.e. the COST of step 3 (≤ n_wedges, the
    * orientation's saving).
    *
    * The edge set is the prefix-filtered similarity join (q56's scale
    * shape, sorted=false), checkpoint-truncated once: it feeds the
    * degree count, both spoke sides and the closing join. Oracle:
    * the whole construction re-derived in DuckDB over the shared pairs
    * CTE. */
  def triangleCensus(documents: org.apache.spark.sql.DataFrame,
                     threshold: Double = 0.5,
                     tieredEdges: Boolean = true): org.apache.spark.sql.DataFrame = {
    // r11: the edge set rides the TIERED shared relation — identical
    // rows to the former private t=0.5 build (filtered from the q96/q99
    // base, SharedPairCacheSpec pins equality), and the memo's persist
    // replaces the former per-query checkpoint for the four consumers
    // (degree count, both spoke sides, closing join). A cold registry
    // pass previously built this edge set from scratch HERE and then
    // again for q57/q81 — one build now serves all five consumers.
    //
    // COST ATTRIBUTION (r11 verdict #3): in registry order q110 is the
    // FIRST consumer of the tiered base, so a cold pass charges the
    // t=0.4 base build (lower threshold ⇒ more candidates to verify;
    // measured ~+24% vs a direct t=0.5 build) to q110 while q57/q81/
    // q96/q99 ride the memo (group total −27% — the designed trade).
    // `tieredEdges = false` is the standalone escape hatch: a caller
    // that runs ONLY the census (no later edge consumers) builds the
    // direct per-threshold relation instead and skips the base's extra
    // candidate-verification work. Output is identical either way
    // (SharedPairCacheSpec pins the tiered view bit-equal to the
    // direct build); the registry keeps the tiered default because
    // the registry IS the multi-consumer workload.
    val pairs = (if (tieredEdges)
        DedupQueries.tokenPrefixEdgesAtLeast(documents, threshold)
      else DedupQueries.tokenPrefixJoinShared(documents, threshold))
      .select(col("id1"), col("id2"))
    val deg = pairs.select(col("id1").as("id"))
      .unionByName(pairs.select(col("id2").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val e = pairs
      .join(deg.select(col("id").as("id1"), col("deg").as("d1")), Seq("id1"))
      .join(deg.select(col("id").as("id2"), col("deg").as("d2")), Seq("id2"))
    val fwd = col("d1") < col("d2") ||
      (col("d1") === col("d2") && col("id1") < col("id2"))
    // oriented edges have FOUR consumers (two spoke sides, the closing
    // join, the out-degree count): materialize once
    val o = Checkpoints.truncate(e.select(
      when(fwd, col("id1")).otherwise(col("id2")).as("u"),
      when(fwd, col("id2")).otherwise(col("id1")).as("v"),
      when(fwd, col("d2")).otherwise(col("d1")).as("dv")))
    val x = o.select(col("u"), col("v").as("a"), col("dv").as("da"))
    val y = o.select(col("u"), col("v").as("b"), col("dv").as("db"))
    val wedges = x.join(y, Seq("u"))
      .filter(col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")))
    val tri = wedges.join(o.select(col("u").as("a"), col("v").as("b")),
      Seq("a", "b"))
    val srcOf = documents.select(col("doc_id"), col("source"))
    def bySrc(df: org.apache.spark.sql.DataFrame, idCol: String,
              agg: org.apache.spark.sql.Column, as: String) =
      df.join(srcOf.withColumnRenamed("doc_id", idCol), Seq(idCol))
        .groupBy(col("source")).agg(agg.as(as))
    val eSrc = bySrc(pairs, "id1", count(lit(1)), "n_edges")
    // both wedge COUNTS without wedge rows: Σ C(deg, 2) over undirected
    // degrees (graph wedges) and Σ C(outdeg, 2) over apexes (closing-
    // join work)
    val wSrc = bySrc(deg.withColumnRenamed("id", "u"), "u",
      sum(expr("deg * (deg - 1) DIV 2")).cast("long"), "n_wedges")
    val outdeg = o.groupBy(col("u")).agg(count(lit(1)).as("od"))
    val cSrc = bySrc(outdeg, "u",
      sum(expr("od * (od - 1) DIV 2")).cast("long"), "n_wedge_checks")
    val tSrc = bySrc(tri, "u", count(lit(1)), "n_triangles")
    eSrc.join(wSrc, Seq("source"), "left")
      .join(cSrc, Seq("source"), "left").join(tSrc, Seq("source"), "left")
      .select(col("source"), col("n_edges"),
        coalesce(col("n_wedges"), lit(0L)).as("n_wedges"),
        coalesce(col("n_wedge_checks"), lit(0L)).as("n_wedge_checks"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .orderedResult(col("source"))
  }

  /** Duplicate-cluster statistics report (q125): for every REAL
    * near-dup cluster (component of ≥ 2 docs), the shape a dedup review
    * reads first — cluster size, how many sources it spans
    * (cross-source clusters = syndication/mirrors; single-source =
    * boilerplate), and the token-mass at stake (what dedup would
    * reclaim). The edge set is deliberately CROSS-SOURCE — the whole
    * corpus runs as one similarity block (q80's shape: a source-blocked
    * join could never produce a multi-source cluster, which is exactly
    * what this report exists to surface; r7f review) — with q80's
    * corpus-wide heavy-list threshold and its 0.8 near-match threshold
    * (0.5 cross-source merges half this corpus into one blob — the
    * within-source battery's threshold does not transfer to the
    * corpus-wide regime). One join of the component
    * assignment to a projected documents relation + a component-keyed
    * rollup; the components operator dominates. */
  def dupClusterStats(documents: org.apache.spark.sql.DataFrame,
                      threshold: Double = 0.8,
                      heavyListThreshold: Int = 512): org.apache.spark.sql.DataFrame =
    clusterRollup(exactDupComponents(documents, threshold,
      heavyListThreshold), documents)

  /** (id, component) over the EXACT corpus-wide prefix-join edge set —
    * q125's assignment, shared with the q132 recall certificate. The
    * edge set rides the registry-level shared-relation cache (the
    * q57/q81 discipline): q125 and q132 consume the IDENTICAL corpus-
    * wide t = 0.8 edges, and the exact prefix join is the dominant
    * cost of both — one registry pass builds it once. */
  private def exactDupComponents(documents: org.apache.spark.sql.DataFrame,
                                 threshold: Double,
                                 heavyListThreshold: Int)
  : org.apache.spark.sql.DataFrame = {
    val edges = SharedRelations("xclust",
        documents, math.round(threshold * 1000000).toInt, heavyListThreshold)(
        DedupQueries.tokenPrefixJoin(
          documents.select(col("doc_id"), lit("all").as("source"), col("text")),
          threshold, heavyListThreshold, sorted = false))
      .select(col("id1").as("u"), col("id2").as("v"))
    // r11: the COMPONENT assignment rides the memo too — q125 and q132
    // each ran the full star-contraction loop (every round = two keyed
    // aggregations + joins + a checkpoint + a checksum action) over the
    // identical edge set; one run now serves both.
    SharedRelations("xclustcc",
      documents, math.round(threshold * 1000000).toInt, heavyListThreshold)(
      ConnectedComponents.components(
        documents.select(col("doc_id").as("id")), edges))
  }

  /** The shared per-cluster rollup of q125/q128: size, source span and
    * token mass for every ≥2-doc component. */
  private def clusterRollup(comps: org.apache.spark.sql.DataFrame,
                            documents: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.DataFrame =
    comps.join(documents.select(col("doc_id").as("id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens")), Seq("id"))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("source")).as("n_sources"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        sum(col("n_tokens")).cast("long").as("total_tokens"))
      .filter(col("n_docs") >= 2)
      .orderedResult(col("component"))

  /** LSH-bucketed duplicate-cluster statistics (q128) — q125's linear-
    * cost scale rung. [[dupClusterStats]] derives its edge set from the
    * exact corpus-wide prefix join, whose cost tracks true pair density
    * (this corpus holds one ~2,400-doc cluster at t = 0.8 ⇒ ~2.9 M clique
    * edges — output-optimal for the exact report, but quadratic per
    * cluster). The production MinHash-dedup shape replaces the pair
    * relation with CHAIN edges: within every TOKEN-minhash LSH bucket
    * (band + 4-minhash tuple, [[DedupQueries.minhashBandedTokens]] —
    * the estimator aligned with the token-Jaccard verifier, r10)
    * consecutive members by doc_id are verified against each other —
    * candidate
    * volume is LINEAR in bucket size (n−1 pairs), never C(n,2). Every
    * candidate edge is still exact-verified at token-Jaccard ≥ t before
    * use, so each reported cluster provably REFINES an exact q125
    * cluster (edges ⊆ exact edges ⇒ components ⊆ exact components);
    * recall is what LSH banding grants through local chaining, and is
    * MEASURED per exact cluster by the q132 certificate (which is how
    * the r10 round found chains dominate the star-to-representative
    * variant at identical cost — see [[lshChainEdges]]). Same rollup as
    * q125. The banding and chain window are linear scans of the banded
    * relation ([[LshBands]] rows/doc — 8 at the registered layout —
    * bucket-partitioned window); no self-join exists anywhere in the
    * plan, so a 100 TB corpus with a million-document duplicate blob
    * costs O(bands·10⁶) verifications, not 5·10¹¹ pairs. */
  /** The REGISTERED q128/q132 band layout: 8 bands × 4 rows over 32
    * token-minhash permutations — the band-layout sweep's frontier point
    * (PERF.md r10; doc recall 0.833 vs 4×4's 0.782 at the same warm
    * wall; widening bands at CONSTANT width preserves bucket purity,
    * which the 8×2 sweep point showed is what chain candidates need).
    * One definition so the Spark defaults and the oracle CTEs cannot
    * diverge. */
  private[graft] final val LshBands = 8
  private[graft] final val LshRows = 4

  /** The REGISTERED chain reach: candidates between bucket members up
    * to `ChainHops` apart in doc_id order — 1 was r10's rung (doc
    * recall 0.833); the r10 verdict task-#5 sweep measured 2→0.873,
    * 3→0.8995, 4→0.9162, 5→0.9268 at sf0.1 with FLAT rung wall
    * (~5.7 s warm at every reach). 4 is the accepted point: past the
    * ≥0.90 bar with margin rather than on the razor edge, volume still
    * ≤ 4(n−1) per bucket — linear, never C(n,2). One definition drives
    * the Spark default AND the oracle CTE ([[chainCandCte]]). */
  private[graft] final val ChainHops = 4

  /** The q128/q132 candidate CTE (`cand`), derived from [[ChainHops]]
    * so the registered reach and the DuckDB oracle cannot diverge. */
  private def chainCandCte: String = {
    val hops = (1 to ChainHops).map(h =>
      s"""SELECT lag(doc_id, $h) OVER (
         |               PARTITION BY band, s0, s1, s2, s3
         |               ORDER BY doc_id) AS id1,
         |             doc_id AS id2
         |           FROM bands""".stripMargin).mkString("\n  UNION ALL ")
    s"""cand AS (SELECT DISTINCT id1, id2 FROM (
       |  $hops) WHERE id1 IS NOT NULL)""".stripMargin
  }

  def lshClusterStats(documents: org.apache.spark.sql.DataFrame,
                      threshold: Double = 0.8,
                      bands: Int = LshBands,
                      rowsPerBand: Int = LshRows,
                      chainHops: Int = ChainHops): org.apache.spark.sql.DataFrame =
    clusterRollup(lshDupComponents(documents, threshold, bands, rowsPerBand,
      chainHops), documents)

  /** (id, component) over the LSH chain-edge set — q128's assignment,
    * shared with the q132 recall certificate (the verified chain edges
    * ride the shared-relation cache, like [[exactDupComponents]]'s). */
  private def lshDupComponents(documents: org.apache.spark.sql.DataFrame,
                               threshold: Double,
                               bands: Int = LshBands,
                               rowsPerBand: Int = LshRows,
                               chainHops: Int = ChainHops)
  : org.apache.spark.sql.DataFrame = {
    val verified = SharedRelations("lshchain",
      documents, math.round(threshold * 1000000).toInt,
      bands * 10000 + rowsPerBand * 100 + chainHops)(
      lshChainEdges(documents, threshold, bands, rowsPerBand, chainHops))
    // r11: component assignment memoized like the edges — q128/q132
    // shared the edge set but each re-ran star contraction over it
    SharedRelations("lshchaincc",
      documents, math.round(threshold * 1000000).toInt,
      bands * 10000 + rowsPerBand * 100 + chainHops)(
      ConnectedComponents.components(
        documents.select(col("doc_id").as("id")), verified))
  }

  /** CHAIN candidates within each LSH bucket — consecutive members by
    * doc_id — exact-verified at token-Jaccard ≥ t. Candidate volume is
    * the SAME n−1 per bucket a star-to-representative scheme emits,
    * but the r10 q132 certificate showed why chains dominate stars on
    * real cluster shapes: the bucket's min-id representative can be a
    * weakly-connected satellite of a CHAIN-shaped exact cluster, and
    * then every member fails exact verification against it (measured:
    * star recovered 12 % of exact-cluster docs at sf0.1; the chain's
    * consecutive pairs verify through LOCAL similarity and recover the
    * cluster bulk — numbers in PERF r10). The per-bucket window is
    * bucket-partitioned (never global); a million-doc duplicate blob
    * is one sort of its own bucket, n−1 verifications — still no
    * self-join anywhere. */
  private def lshChainEdges(documents: org.apache.spark.sql.DataFrame,
                            threshold: Double,
                            bands: Int = LshBands, rowsPerBand: Int = LshRows,
                            chainHops: Int = ChainHops)
  : org.apache.spark.sql.DataFrame = {
    val bandKey = Seq("band", "s0", "s1", "s2", "s3")
    // TOKEN-set minhash banding (r10): the estimator must speak the
    // verifier's metric — char-shingle banding recovers 12 % of
    // token-jac-0.8 clusters on this corpus (shingle-jac of true pairs
    // ≈ 0.02); token banding fires at tok_jac^rows per band.
    // r12: reads the registry-shared banding pass (one corpus signing
    // per pass serves this rung, the decon rung and q137 — guide §1.2)
    val banded = DedupQueries.minhashBandedTokensShared(
      documents, bands, rowsPerBand).drop("source")
    val w = Window.partitionBy(bandKey.map(col): _*).orderBy(col("doc_id"))
    // hop-h candidates: bucket members h apart in doc_id order. hops=1
    // is the plain chain; hops=2 (r10 verdict task #5) adds each
    // member's next-but-one mate, so ONE chain link whose consecutive
    // pair happens to fall below t (an interleaved satellite) no longer
    // severs the cluster — the measured residual of the r10 rung.
    // Volume stays ≤ hops·(n−1) per bucket: linear, never C(n,2).
    // LENGTH pre-filter on chain candidates ([[lengthAdmits]]): the
    // banding relation carries the verifier's distinct-token count, so
    // an incompatible chain mate is dropped before the verify join
    // materializes its token arrays. Identical verified edge set.
    val chainCand = (1 to chainHops).map(h => banded
        .withColumn("nxt", lead(col("doc_id"), h).over(w))
        .withColumn("nxtn", lead(col("n"), h).over(w))
        .filter(col("nxt").isNotNull &&
          lengthAdmits(col("n"), col("nxtn"), threshold))
        // bucket-ordered ⇒ id1 < id2 by construction
        .select(col("doc_id").as("id1"), col("nxt").as("id2")))
      .reduce(_.unionByName(_)).distinct()
    val toks = documents.select(col("doc_id"),
      array_distinct(split(col("text"), " ")).as("t"))
    chainCand
      .join(toks.select(col("doc_id").as("id1"), col("t").as("t1")), Seq("id1"))
      .join(toks.select(col("doc_id").as("id2"), col("t").as("t2")), Seq("id2"))
      .filter(size(array_intersect(col("t1"), col("t2"))).cast("double")
        / size(array_union(col("t1"), col("t2"))) >= threshold)
      .select(col("id1").as("u"), col("id2").as("v"))
  }

  /** Cluster-recall certificate for the q128 LSH rung (q132) — the
    * q106/q131 discipline applied to the dedup-cluster family: the ANN
    * queries certify their approximate rungs with a measured recall
    * number, and the LSH cluster report gets the same. Per EXACT q125
    * cluster (the yardstick): how many of its documents — and how much
    * of its token mass — the linear-cost q128 construction recovers. A
    * document is RECOVERED when the LSH rung groups it with at least
    * one other document (member of a ≥2-doc LSH component); since every
    * verified chain edge is also an exact edge, LSH components REFINE
    * exact components, so recovery never crosses cluster lines and
    * doc_recall ∈ [0, 1] measures exactly what banding grants (a doc
    * joins iff some band puts it next to a ≥ t bucket neighbour).
    * This certificate is what exposed the star-to-representative
    * variant's 12 % doc recall and drove the chain redesign (PERF
    * r10) — exactly the job the q106/q131 numbers do for ANN.
    *
    * Cost: both component assignments — but both EDGE SETS ride the
    * registry shared-relation cache, so in a pass that also runs
    * q125/q128 this certificate pays only its two component iterations
    * + rollup, not a second exact prefix join (the q57/q81 sharing
    * discipline; standalone it prices like q125 + q128 — a
    * certification report the production pipeline consults at audit
    * cadence while running q128 alone). Scale shape: two linear
    * component runs + one broadcastable ≥2-size filter join + a
    * component-keyed rollup — no operator beyond what q125/q128
    * already commit to. */
  def lshClusterRecall(documents: org.apache.spark.sql.DataFrame,
                       threshold: Double = 0.8,
                       bands: Int = LshBands,
                       rowsPerBand: Int = LshRows,
                       chainHops: Int = ChainHops): org.apache.spark.sql.DataFrame = {
    val exact = exactDupComponents(documents, threshold, 512)
    val lsh = lshDupComponents(documents, threshold, bands, rowsPerBand,
      chainHops)
    // docs the LSH rung recovered: members of ≥2-doc LSH components.
    // The size relation is component-keyed (≪ docs) — broadcastable
    val lshSizes = lsh.groupBy(col("component"))
      .agg(count(lit(1)).as("sz")).filter(col("sz") >= 2)
      .select(col("component"))
    val rec = lsh.join(broadcast(lshSizes), Seq("component"))
      .select(col("id"), lit(1).as("rec"))
    val nt = documents.select(col("doc_id").as("id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    exact.join(nt, Seq("id"))
      .join(rec, Seq("id"), "left")
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("rec"), lit(0))).cast("long").as("n_recovered"),
        sum(col("n_tokens")).cast("long").as("total_tokens"),
        sum(when(col("rec").isNotNull, col("n_tokens")).otherwise(0L))
          .cast("long").as("recovered_tokens"))
      .filter(col("n_docs") >= 2)
      .withColumn("doc_recall",
        col("n_recovered").cast("double") / col("n_docs"))
      .orderedResult(col("component"))
  }

  /** Adjacent-token bigrams per document as (doc_id, t1, t2), GUARDED
    * for single-token and empty texts: size < 2 contributes no bigram
    * rows — an unguarded `sequence(1, size-1)` yields the DESCENDING
    * array [1, 0] when size = 1 and element_at then throws
    * INVALID_ARRAY_INDEX (r7f review; DuckDB's generate_series(1, 0) is
    * empty, so the guard also keeps the engines aligned). Shared by
    * q72's LM scorer and q119's collocation lift. */
  private[operators] def adjacentBigrams(documents: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.DataFrame = {
    val tk = tokens(col("text"))
    documents.filter(size(tk) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(tk) - 1),
        i => struct(element_at(tk, i).as("t1"),
          element_at(tk, i + 1).as("t2")))).as("b"))
      .select(col("doc_id"), col("b.t1").as("t1"), col("b.t2").as("t2"))
  }

  /** Registry-shared corpus BIGRAM counts (t1, t2, c) over
    * [[adjacentBigrams]] (r12, guide §1.2): q72's LM numerator table
    * and q119's collocation support counts are the SAME corpus-scale
    * explode+aggregate — one registry pass ran it twice. Persisted
    * result is bigram-vocabulary-sized, far below the exploded
    * stream it replaces. */
  private[operators] def bigramCountsShared(
      documents: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.DataFrame =
    SharedRelations("bigcnt", documents, 0, 0)(
      adjacentBigrams(documents).groupBy(col("t1"), col("t2"))
        .agg(count(lit(1)).as("c")))

  /** Registry-shared corpus UNIGRAM counts (t, c) — q72's denominator
    * table and q119's per-word marginals (r12, same rationale);
    * vocabulary-sized. */
  private[operators] def unigramCountsShared(
      documents: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.DataFrame =
    SharedRelations("unicnt", documents, 0, 0)(
      documents.select(explode(tokens(col("text"))).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("c")))

  /** q56's oracle CTE fragment: token-Jaccard pairs at threshold `t`
    * within source blocks — reused by q57 as the duplicate edge set. */
  private[operators] def jaccardPairsCte(t: Double): String =
    s"""toks AS (SELECT doc_id, source,
       |    list_distinct(string_split(text, ' ')) AS t FROM documents),
       |pairs AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2
       |  FROM toks a JOIN toks b ON a.source = b.source AND a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
       |      / len(list_distinct(a.t || b.t)) >= $t)""".stripMargin

  val registry: Map[String, QueryDef] = Map(

    // ── graph-centrality quality weighting: integer-scaled PageRank
    //    (5 damped rounds) over the prefix-filtered duplicate graph; the
    //    whole iteration re-derived in DuckDB via unrolled CTEs ──
    "q96_pagerank" -> QueryDef(
      (s, d) => pageRank(Tables.documents(s, d)),
      Some(pageRankOracleSql(5, 0.4))),

    // ── per-cluster dedup report: size, source span, token mass for
    //    every ≥2-doc component over CROSS-SOURCE edges (one corpus
    //    block — a source-blocked join can never span sources); oracle
    //    composes the recursive-CTE reachability with the rollup ──
    "q125_cluster_stats" -> QueryDef(
      (s, d) => dupClusterStats(Tables.documents(s, d)),
      Some("""WITH RECURSIVE toks AS (SELECT doc_id,
             |    list_distinct(string_split(text, ' ')) AS t FROM documents),
             |pairs AS (
             |  SELECT a.doc_id AS id1, b.doc_id AS id2
             |  FROM toks a JOIN toks b ON a.doc_id < b.doc_id
             |  WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
             |      / len(list_distinct(a.t || b.t)) >= 0.8),
             |edges AS (SELECT id1 AS u, id2 AS v FROM pairs
             |          UNION ALL SELECT id2, id1 FROM pairs),
             |reach AS (
             |  SELECT doc_id AS id, doc_id AS comp FROM documents
             |  UNION
             |  SELECT e.v AS id, r.comp FROM reach r JOIN edges e ON e.u = r.id
             |  WHERE r.comp < e.v),
             |comps AS (SELECT id, MIN(comp) AS component
             |          FROM reach GROUP BY id)
             |SELECT c.component, COUNT(*) AS n_docs,
             |  COUNT(DISTINCT d.source) AS n_sources,
             |  MIN(CAST(len(string_split(d.text, ' ')) AS BIGINT)) AS min_tokens,
             |  MAX(CAST(len(string_split(d.text, ' ')) AS BIGINT)) AS max_tokens,
             |  CAST(SUM(len(string_split(d.text, ' '))) AS BIGINT) AS total_tokens
             |FROM comps c JOIN documents d ON d.doc_id = c.id
             |GROUP BY c.component HAVING COUNT(*) >= 2
             |ORDER BY c.component""".stripMargin)),

    // ── LSH-bucketed duplicate-cluster statistics: q125's linear-cost
    //    scale rung — chain edges between consecutive members of each
    //    TOKEN-minhash bucket (8×4 layout), exact token-Jaccard
    //    verification, same components + rollup; the whole construction
    //    (portable token minhash bands → chain candidates → verify →
    //    recursive components) re-derived in DuckDB ──
    "q128_lsh_cluster_stats" -> QueryDef(
      (s, d) => lshClusterStats(Tables.documents(s, d)),
      Some(s"""WITH RECURSIVE ${DedupQueries.minhashBandedTokensCtes(LshBands, LshRows)},
             |$chainCandCte,
             |toks AS (SELECT doc_id,
             |    list_distinct(string_split(text, ' ')) AS t FROM documents),
             |ver AS (SELECT c.id1 AS u, c.id2 AS v FROM cand c
             |        JOIN toks a ON a.doc_id = c.id1
             |        JOIN toks b ON b.doc_id = c.id2
             |        WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
             |            / len(list_distinct(a.t || b.t)) >= 0.8),
             |edges AS (SELECT u, v FROM ver UNION ALL SELECT v, u FROM ver),
             |reach AS (
             |  SELECT doc_id AS id, doc_id AS comp FROM documents
             |  UNION
             |  SELECT e.v AS id, r.comp FROM reach r JOIN edges e ON e.u = r.id
             |  WHERE r.comp < e.v),
             |comps AS (SELECT id, MIN(comp) AS component
             |          FROM reach GROUP BY id)
             |SELECT c.component, COUNT(*) AS n_docs,
             |  COUNT(DISTINCT d.source) AS n_sources,
             |  MIN(CAST(len(string_split(d.text, ' ')) AS BIGINT)) AS min_tokens,
             |  MAX(CAST(len(string_split(d.text, ' ')) AS BIGINT)) AS max_tokens,
             |  CAST(SUM(len(string_split(d.text, ' '))) AS BIGINT) AS total_tokens
             |FROM comps c JOIN documents d ON d.doc_id = c.id
             |GROUP BY c.component HAVING COUNT(*) >= 2
             |ORDER BY c.component""".stripMargin)),

    // ── cluster-recall certificate for the LSH rung: per EXACT q125
    //    cluster, the fraction of documents and token mass the q128
    //    construction recovers — both component assignments re-derived
    //    in DuckDB (two recursive CTEs under one WITH RECURSIVE) ──
    "q132_lsh_cluster_recall" -> QueryDef(
      (s, d) => lshClusterRecall(Tables.documents(s, d)),
      Some(s"""WITH RECURSIVE ${DedupQueries.minhashBandedTokensCtes(LshBands, LshRows)},
             |$chainCandCte,
             |toks AS (SELECT doc_id,
             |    list_distinct(string_split(text, ' ')) AS t FROM documents),
             |xpairs AS (
             |  SELECT a.doc_id AS id1, b.doc_id AS id2
             |  FROM toks a JOIN toks b ON a.doc_id < b.doc_id
             |  WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
             |      / len(list_distinct(a.t || b.t)) >= 0.8),
             |xedges AS (SELECT id1 AS u, id2 AS v FROM xpairs
             |           UNION ALL SELECT id2, id1 FROM xpairs),
             |xreach AS (
             |  SELECT doc_id AS id, doc_id AS comp FROM documents
             |  UNION
             |  SELECT e.v AS id, r.comp FROM xreach r JOIN xedges e ON e.u = r.id
             |  WHERE r.comp < e.v),
             |xcomps AS (SELECT id, MIN(comp) AS component
             |           FROM xreach GROUP BY id),
             |lver AS (SELECT c.id1 AS u, c.id2 AS v FROM cand c
             |         JOIN toks a ON a.doc_id = c.id1
             |         JOIN toks b ON b.doc_id = c.id2
             |         WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
             |             / len(list_distinct(a.t || b.t)) >= 0.8),
             |ledges AS (SELECT u, v FROM lver UNION ALL SELECT v, u FROM lver),
             |lreach AS (
             |  SELECT doc_id AS id, doc_id AS comp FROM documents
             |  UNION
             |  SELECT e.v AS id, r.comp FROM lreach r JOIN ledges e ON e.u = r.id
             |  WHERE r.comp < e.v),
             |lcomps AS (SELECT id, MIN(comp) AS lcomponent
             |           FROM lreach GROUP BY id),
             |lsz AS (SELECT lcomponent FROM lcomps
             |        GROUP BY 1 HAVING COUNT(*) >= 2),
             |rec AS (SELECT lc.id FROM lcomps lc
             |        JOIN lsz ON lsz.lcomponent = lc.lcomponent),
             |nt AS (SELECT doc_id AS id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
             |  FROM documents)
             |SELECT x.component, COUNT(*) AS n_docs,
             |  CAST(SUM(CASE WHEN r.id IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_recovered,
             |  CAST(SUM(nt.n_tokens) AS BIGINT) AS total_tokens,
             |  CAST(SUM(CASE WHEN r.id IS NOT NULL THEN nt.n_tokens ELSE 0 END)
             |    AS BIGINT) AS recovered_tokens,
             |  CAST(SUM(CASE WHEN r.id IS NOT NULL THEN 1 ELSE 0 END)
             |    AS DOUBLE) / COUNT(*) AS doc_recall
             |FROM xcomps x JOIN nt ON nt.id = x.id
             |LEFT JOIN rec r ON r.id = x.id
             |GROUP BY x.component HAVING COUNT(*) >= 2
             |ORDER BY x.component""".stripMargin)),

    // ── fuzzy decontamination: q61's scrub lifted to near-duplicate
    //    leakage — training docs rewriting an eval (src0) doc at
    //    token-Jaccard ≥ 0.8, found through asymmetric TOKEN-minhash
    //    banding (train bands meet broadcast EVAL bands only; no
    //    train×train candidates) and exact-verified before reporting;
    //    the whole construction (portable token minhash bands →
    //    cross-side candidates → verify → per-doc best match)
    //    re-derived in DuckDB ──
    "q133_fuzzy_decontaminate" -> QueryDef(
      (s, d) => fuzzyDecontaminate(Tables.documents(s, d)),
      Some(s"""WITH ${DedupQueries.minhashBandedTokensCtes(LshBands, LshRows)},
             |src AS (SELECT doc_id, source FROM documents),
             |cand AS (SELECT DISTINCT t.doc_id AS doc_id, e.doc_id AS eval_id
             |  FROM bands t JOIN bands e
             |    ON t.band = e.band AND t.s0 = e.s0 AND t.s1 = e.s1
             |   AND t.s2 = e.s2 AND t.s3 = e.s3
             |  JOIN src st ON st.doc_id = t.doc_id
             |  JOIN src se ON se.doc_id = e.doc_id
             |  WHERE st.source <> 'src0' AND se.source = 'src0'),
             |toks AS (SELECT doc_id,
             |    list_distinct(string_split(text, ' ')) AS t FROM documents),
             |ver AS (SELECT c.doc_id, c.eval_id,
             |    CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
             |      / len(list_distinct(a.t || b.t)) AS jac
             |  FROM cand c JOIN toks a ON a.doc_id = c.doc_id
             |  JOIN toks b ON b.doc_id = c.eval_id
             |  WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
             |      / len(list_distinct(a.t || b.t)) >= 0.8),
             |agg AS (SELECT doc_id, COUNT(*) AS n_eval_matches,
             |    MAX(jac) AS mj FROM ver GROUP BY doc_id),
             |best AS (SELECT v.doc_id, MIN(v.eval_id) AS best_eval_id
             |  FROM ver v JOIN agg g ON g.doc_id = v.doc_id AND v.jac = g.mj
             |  GROUP BY v.doc_id)
             |SELECT g.doc_id, g.n_eval_matches, b.best_eval_id,
             |  g.mj AS best_jac
             |FROM agg g JOIN best b ON b.doc_id = g.doc_id
             |ORDER BY g.doc_id""".stripMargin)),

    // ── recall certificate for the fuzzy-decontamination rung: per
    //    source, the fraction of exactly-contaminated training docs
    //    (brute train×eval token-Jaccard yardstick) the q133 LSH rung
    //    flags, in docs and token mass — both arms re-derived in
    //    DuckDB (the q132 treatment for the decontamination family) ──
    "q134_fuzzy_decon_recall" -> QueryDef(
      (s, d) => fuzzyDeconRecall(Tables.documents(s, d)),
      Some(s"""WITH ${DedupQueries.minhashBandedTokensCtes(LshBands, LshRows)},
             |toks AS (SELECT doc_id, source,
             |    list_distinct(string_split(text, ' ')) AS t,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
             |  FROM documents),
             |exact AS (SELECT DISTINCT a.doc_id
             |  FROM toks a JOIN toks e
             |    ON a.source <> 'src0' AND e.source = 'src0'
             |  WHERE CAST(len(list_intersect(a.t, e.t)) AS DOUBLE)
             |      / len(list_distinct(a.t || e.t)) >= 0.8),
             |cand AS (SELECT DISTINCT t.doc_id AS doc_id, e.doc_id AS eval_id
             |  FROM bands t JOIN bands e
             |    ON t.band = e.band AND t.s0 = e.s0 AND t.s1 = e.s1
             |   AND t.s2 = e.s2 AND t.s3 = e.s3
             |  JOIN toks st ON st.doc_id = t.doc_id
             |  JOIN toks se ON se.doc_id = e.doc_id
             |  WHERE st.source <> 'src0' AND se.source = 'src0'),
             |lsh AS (SELECT DISTINCT c.doc_id FROM cand c
             |  JOIN toks a ON a.doc_id = c.doc_id
             |  JOIN toks e ON e.doc_id = c.eval_id
             |  WHERE CAST(len(list_intersect(a.t, e.t)) AS DOUBLE)
             |      / len(list_distinct(a.t || e.t)) >= 0.8)
             |SELECT tk.source, COUNT(*) AS n_docs_exact,
             |  CAST(SUM(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_docs_lsh,
             |  CAST(SUM(tk.n_tokens) AS BIGINT) AS tokens_exact,
             |  CAST(SUM(CASE WHEN h.doc_id IS NOT NULL THEN tk.n_tokens
             |    ELSE 0 END) AS BIGINT) AS tokens_lsh,
             |  CAST(SUM(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             |    AS DOUBLE) / COUNT(*) AS doc_recall,
             |  CAST(SUM(CASE WHEN h.doc_id IS NOT NULL THEN tk.n_tokens
             |    ELSE 0 END) AS DOUBLE) / SUM(tk.n_tokens) AS token_recall
             |FROM exact x JOIN toks tk ON tk.doc_id = x.doc_id
             |LEFT JOIN lsh h ON h.doc_id = x.doc_id
             |GROUP BY tk.source ORDER BY tk.source""".stripMargin)),

    // ── cross-corpus near-dup scrub: new-snapshot docs (src10+)
    //    near-duplicating the previous snapshot (src1..src9) at
    //    token-Jaccard ≥ 0.8 — banded shuffle join (neither side
    //    broadcasts), heavy buckets salted with an identical result
    //    set, exact verify; re-derived in DuckDB from the same band
    //    CTEs ──
    "q137_cross_corpus_neardup" -> QueryDef(
      (s, d) => crossCorpusNearDups(Tables.documents(s, d)),
      Some(s"""WITH ${DedupQueries.minhashBandedTokensCtes(LshBands, LshRows)},
             |src AS (SELECT doc_id, source FROM documents),
             |cand AS (SELECT DISTINCT n.doc_id AS doc_id, o.doc_id AS old_id
             |  FROM bands n JOIN bands o
             |    ON n.band = o.band AND n.s0 = o.s0 AND n.s1 = o.s1
             |   AND n.s2 = o.s2 AND n.s3 = o.s3
             |  JOIN src sn ON sn.doc_id = n.doc_id
             |  JOIN src so ON so.doc_id = o.doc_id
             |  WHERE length(sn.source) > 4 AND length(so.source) <= 4
             |    AND so.source <> 'src0'),
             |toks AS (SELECT doc_id,
             |    list_distinct(string_split(text, ' ')) AS t FROM documents),
             |ver AS (SELECT c.doc_id, c.old_id,
             |    CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
             |      / len(list_distinct(a.t || b.t)) AS jac
             |  FROM cand c JOIN toks a ON a.doc_id = c.doc_id
             |  JOIN toks b ON b.doc_id = c.old_id
             |  WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
             |      / len(list_distinct(a.t || b.t)) >= 0.8),
             |agg AS (SELECT doc_id, COUNT(*) AS n_old_matches,
             |    MAX(jac) AS mj FROM ver GROUP BY doc_id),
             |best AS (SELECT v.doc_id, MIN(v.old_id) AS best_old_id
             |  FROM ver v JOIN agg g ON g.doc_id = v.doc_id AND v.jac = g.mj
             |  GROUP BY v.doc_id)
             |SELECT g.doc_id, g.n_old_matches, b.best_old_id,
             |  g.mj AS best_jac
             |FROM agg g JOIN best b ON b.doc_id = g.doc_id
             |ORDER BY g.doc_id""".stripMargin)),

    // ── layered contamination report: per training source, the doc
    //    counts each scrub layer flags — exact 8-gram (q61 arm), fuzzy
    //    token-Jaccard (q133 arm), embedding cosine (q135 arm) — and
    //    their union; all three arms re-derived in ONE DuckDB query
    //    (gram chain renamed gg/gev to clear the band chain's names) ──
    "q136_contamination_report" -> QueryDef(
      (s, d) => contaminationReport(Tables.documents(s, d),
        Tables.embeddings(s, d)),
      Some(s"""WITH ${DedupQueries.minhashBandedTokensCtes(LshBands, LshRows)},
             |src AS (SELECT doc_id, source FROM documents),
             |cand AS (SELECT DISTINCT t.doc_id AS doc_id, e.doc_id AS eval_id
             |  FROM bands t JOIN bands e
             |    ON t.band = e.band AND t.s0 = e.s0 AND t.s1 = e.s1
             |   AND t.s2 = e.s2 AND t.s3 = e.s3
             |  JOIN src st ON st.doc_id = t.doc_id
             |  JOIN src se ON se.doc_id = e.doc_id
             |  WHERE st.source <> 'src0' AND se.source = 'src0'),
             |toks AS (SELECT doc_id,
             |    list_distinct(string_split(text, ' ')) AS t FROM documents),
             |fz AS (SELECT DISTINCT c.doc_id FROM cand c
             |  JOIN toks a ON a.doc_id = c.doc_id
             |  JOIN toks b ON b.doc_id = c.eval_id
             |  WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
             |      / len(list_distinct(a.t || b.t)) >= 0.8),
             |gg AS (SELECT doc_id, source,
             |    list_distinct(list_transform(generate_series(1, length(text) - 7),
             |      i -> (${(0 until 8).map(DedupQueries.gramHashSql).mkString(" + ")})
             |           % 1000000007)) AS gs
             |  FROM documents),
             |gev AS (SELECT DISTINCT unnest(gs) AS gr FROM gg WHERE source = 'src0'),
             |ex AS (SELECT DISTINCT t.doc_id FROM
             |  (SELECT doc_id, unnest(gs) AS gr FROM gg WHERE source <> 'src0') t
             |  JOIN gev ON t.gr = gev.gr),
             |${AnnQueries.embedDeconFlagCtes(300000L)},
             |sem AS (SELECT DISTINCT vec_id AS doc_id FROM f)
             |SELECT s.source, COUNT(*) AS n_docs,
             |  CAST(SUM(CASE WHEN ex.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_exact,
             |  CAST(SUM(CASE WHEN fz.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_fuzzy,
             |  CAST(SUM(CASE WHEN sem.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_semantic,
             |  CAST(SUM(CASE WHEN ex.doc_id IS NOT NULL OR fz.doc_id IS NOT NULL
             |    OR sem.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_any
             |FROM src s
             |LEFT JOIN ex ON ex.doc_id = s.doc_id
             |LEFT JOIN fz ON fz.doc_id = s.doc_id
             |LEFT JOIN sem ON sem.doc_id = s.doc_id
             |WHERE s.source <> 'src0'
             |GROUP BY s.source ORDER BY s.source""".stripMargin)),

    // ── per-source triangle census of the duplicate graph: degree-
    //    ordered wedge join (π-orientation bounds per-key fan-out by
    //    O(√m)); graph wedges Σ C(deg,2) AND closing-join work
    //    Σ C(outdeg,2), both counted with no wedge materialization;
    //    full construction re-derived in DuckDB ──
    "q110_triangles" -> QueryDef(
      (s, d) => triangleCensus(Tables.documents(s, d)),
      Some(s"""WITH ${jaccardPairsCte(0.5)},
             |deg AS (SELECT id, COUNT(*) AS deg FROM (
             |    SELECT id1 AS id FROM pairs UNION ALL SELECT id2 FROM pairs)
             |  GROUP BY 1),
             |e AS (SELECT p.id1, p.id2, d1.deg AS dg1, d2.deg AS dg2,
             |        (d1.deg < d2.deg OR (d1.deg = d2.deg AND p.id1 < p.id2)) AS fwd
             |      FROM pairs p JOIN deg d1 ON d1.id = p.id1
             |                   JOIN deg d2 ON d2.id = p.id2),
             |o AS (SELECT CASE WHEN fwd THEN id1 ELSE id2 END AS u,
             |             CASE WHEN fwd THEN id2 ELSE id1 END AS v,
             |             CASE WHEN fwd THEN dg2 ELSE dg1 END AS dv FROM e),
             |w AS (SELECT x.u, x.v AS a, y.v AS b FROM o x JOIN o y
             |      ON x.u = y.u AND (x.dv < y.dv OR (x.dv = y.dv AND x.v < y.v))),
             |tri AS (SELECT w.u FROM w JOIN o ON o.u = w.a AND o.v = w.b),
             |od AS (SELECT u, COUNT(*) AS od FROM o GROUP BY 1),
             |es AS (SELECT d.source, COUNT(*) AS n_edges
             |       FROM pairs p JOIN documents d ON d.doc_id = p.id1 GROUP BY 1),
             |ws AS (SELECT d.source, SUM(deg.deg * (deg.deg - 1) // 2) AS n_wedges
             |       FROM deg JOIN documents d ON d.doc_id = deg.id GROUP BY 1),
             |cs AS (SELECT d.source, SUM(od * (od - 1) // 2) AS n_wedge_checks
             |       FROM od JOIN documents d ON d.doc_id = od.u GROUP BY 1),
             |ts AS (SELECT d.source, COUNT(*) AS n_triangles
             |       FROM tri JOIN documents d ON d.doc_id = tri.u GROUP BY 1)
             |SELECT es.source, es.n_edges,
             |  CAST(COALESCE(ws.n_wedges, 0) AS BIGINT) AS n_wedges,
             |  CAST(COALESCE(cs.n_wedge_checks, 0) AS BIGINT) AS n_wedge_checks,
             |  CAST(COALESCE(ts.n_triangles, 0) AS BIGINT) AS n_triangles
             |FROM es LEFT JOIN ws ON ws.source = es.source
             |        LEFT JOIN cs ON cs.source = es.source
             |        LEFT JOIN ts ON ts.source = es.source
             |ORDER BY es.source""".stripMargin)),

    // ── duplicate-cluster canonical selection by centrality: components
    //    + PageRank over ONE edge set, per-cluster argmax; the oracle
    //    composes the recursive-CTE reachability (q57) with the unrolled
    //    pr chain (q96) and a rank-1 window pick ──
    "q99_canonical_by_rank" -> QueryDef(
      (s, d) => canonicalByRank(Tables.documents(s, d)),
      Some(s"""WITH RECURSIVE ${jaccardPairsCte(0.4)},
             |${pageRankCtes(5)},
             |edges AS (SELECT id1 AS u, id2 AS v FROM pairs
             |          UNION ALL SELECT id2, id1 FROM pairs),
             |reach AS (
             |  SELECT doc_id AS id, doc_id AS comp FROM documents
             |  UNION
             |  SELECT e.v AS id, r.comp FROM reach r JOIN edges e ON e.u = r.id
             |  WHERE r.comp < e.v),
             |comps AS (SELECT id AS doc_id, MIN(comp) AS component
             |          FROM reach GROUP BY id),
             |j AS (SELECT c.doc_id, c.component, p.pr
             |      FROM comps c JOIN pr5 p USING (doc_id)),
             |r AS (SELECT doc_id, component, pr,
             |    ROW_NUMBER() OVER (PARTITION BY component
             |                       ORDER BY pr DESC, doc_id) AS rn,
             |    COUNT(*) OVER (PARTITION BY component) AS cs FROM j)
             |SELECT component, CAST(cs AS BIGINT) AS cluster_size,
             |  doc_id AS keep_doc, pr AS keep_pr
             |FROM r WHERE rn = 1 ORDER BY component""".stripMargin)),

    // ── duplicate-group resolution: prefix-filtered Jaccard pairs (q56
    //    semantics, t=0.5) → connected components (large-star/small-star)
    //    → per-doc (component, cluster size, canonical flag). The oracle
    //    recomputes reachability as a DuckDB recursive CTE — a genuinely
    //    independent algorithm (BFS label spread vs star contraction). ──
    "q57_dup_components" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        // shared unsorted edge relation AND component assignment (r11):
        // q81/q110 consume the identical edges (tiered from the q96/q99
        // base build), and q81 consumes this exact components relation
        val comps = DedupQueries.tokenEdgeComponentsShared(docs,
          threshold = 0.5)
        val sizes = comps.groupBy(col("component"))
          .agg(count(lit(1)).as("cluster_size"))
        comps.join(sizes, Seq("component"))
          .select(col("id").as("doc_id"), col("component"),
            col("cluster_size"),
            (col("id") === col("component")).cast("int").as("is_canonical"))
          // per-document output: parallel range sort over checkpointed
          // blocks, never a single-partition funnel (see orderedOutput)
          .orderedOutput(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE ${jaccardPairsCte(0.5)},
             |edges AS (SELECT id1 AS u, id2 AS v FROM pairs
             |          UNION ALL SELECT id2, id1 FROM pairs),
             |reach AS (
             |  SELECT doc_id AS id, doc_id AS comp FROM documents
             |  UNION
             |  SELECT e.v AS id, r.comp FROM reach r JOIN edges e ON e.u = r.id
             |  WHERE r.comp < e.v),
             |comps AS (SELECT id AS doc_id, MIN(comp) AS component
             |          FROM reach GROUP BY id)
             |SELECT c.doc_id, c.component,
             |  CAST(n.cluster_size AS BIGINT) AS cluster_size,
             |  CAST(c.doc_id = c.component AS INT) AS is_canonical
             |FROM comps c JOIN (SELECT component, COUNT(*) AS cluster_size
             |                   FROM comps GROUP BY 1) n USING (component)
             |ORDER BY doc_id""".stripMargin)),

    // ── SEMANTIC duplicate groups: the same components operator over a
    //    different edge relation — embedding-cosine pairs (q35 semantics)
    //    instead of token Jaccard. Textual (q57) and semantic (q67) dedup
    //    share one group-resolution stage; oracle again re-derives
    //    reachability as a recursive CTE over the SQL edge set. ──
    "q67_semantic_dup_groups" -> QueryDef(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val edges = DedupQueries.embedNearDupPairs(emb)
          .select(col("id1").as("u"), col("id2").as("v"))
        val comps = ConnectedComponents.components(
          emb.select(col("vec_id").as("id")), edges)
        val sizes = comps.groupBy(col("component"))
          .agg(count(lit(1)).as("cluster_size"))
        comps.join(sizes, Seq("component"))
          .select(col("id").as("vec_id"), col("component"),
            col("cluster_size"),
            (col("id") === col("component")).cast("int").as("is_canonical"))
          // per-vector output: see orderedOutput note on q57
          .orderedOutput(col("vec_id"))
      },
      Some("""WITH RECURSIVE pairs AS (
             |  SELECT a.vec_id AS id1, b.vec_id AS id2
             |  FROM embeddings a JOIN embeddings b
             |    ON a.label = b.label AND a.vec_id < b.vec_id
             |  WHERE list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
             |      / (SQRT(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
             |       * SQRT(list_inner_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) > 0.3),
             |edges AS (SELECT id1 AS u, id2 AS v FROM pairs
             |          UNION ALL SELECT id2, id1 FROM pairs),
             |reach AS (
             |  SELECT vec_id AS id, vec_id AS comp FROM embeddings
             |  UNION
             |  SELECT e.v AS id, r.comp FROM reach r JOIN edges e ON e.u = r.id
             |  WHERE r.comp < e.v),
             |comps AS (SELECT id AS vec_id, MIN(comp) AS component
             |          FROM reach GROUP BY id)
             |SELECT c.vec_id, c.component,
             |  CAST(n.cluster_size AS BIGINT) AS cluster_size,
             |  CAST(c.vec_id = c.component AS INT) AS is_canonical
             |FROM comps c JOIN (SELECT component, COUNT(*) AS cluster_size
             |                   FROM comps GROUP BY 1) n USING (component)
             |ORDER BY vec_id""".stripMargin)),

    // ── EXACT substring-overlap dedup (the "long repeated span" flavor —
    //    Lee et al., "Deduplicating Training Data Makes Language Models
    //    Better": boilerplate/licenses/quotes shared verbatim across
    //    otherwise-different documents, which document-level Jaccard
    //    misses). 64-char windows sampled every 8 chars, window
    //    fingerprint = Σ of the eight 8-char-gram fingerprints inside it
    //    (mod p) — composed from the same native GramHashArray primitive,
    //    exact in both engines. Inverted-index join on (source, window
    //    hash) counts shared windows per doc pair. ──
    "q69_substring_overlap" -> QueryDef(
      (s, d) => {
        val e = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            explode(graft.functions.SpanFingerprints(col("text"))).as("wh"))
        val a = e.select(col("source"), col("wh"), col("doc_id").as("id1"))
        val b = e.select(col("source"), col("wh"), col("doc_id").as("id2"))
        a.join(b, Seq("source", "wh")).filter(col("id1") < col("id2"))
          .groupBy(col("id1"), col("id2"))
          .agg(count(lit(1)).as("n_shared_windows"))
          .orderedResult(col("id1"), col("id2"))
      },
      Some(s"""WITH g AS (SELECT doc_id, source,
             |    list_transform(generate_series(1, length(text) - 7),
             |      i -> (${(0 until 8).map(DedupQueries.gramHashSql).mkString(" + ")})
             |           % 1000000007) AS gs
             |  FROM documents),
             |w AS (SELECT doc_id, source,
             |    list_distinct(list_filter(
             |      [(${(0 until 8).map(j => s"gs[i + ${8 * j}]").mkString(" + ")}) % 1000000007
             |       for i in range(1, len(gs) - 55)],
             |      x -> x % 8 = 0)) AS ws FROM g),
             |e AS (SELECT doc_id, source, unnest(ws) AS wh FROM w)
             |SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS n_shared_windows
             |FROM e a JOIN e b ON a.source = b.source AND a.wh = b.wh
             |  AND a.doc_id < b.doc_id
             |GROUP BY 1, 2 ORDER BY id1, id2""".stripMargin)),

    // ── training-example assembly: the composition the batteries build
    //    toward — rule filter (q65) + exact-dedup canonical pick (q22) +
    //    embedding join + chunk count (q60 arithmetic) + deterministic
    //    train-split gate (q59's hash, windowless scale shape) in ONE
    //    plan. Catalyst keeps it a single pass over documents with a
    //    broadcast dedup side and a doc_id-keyed embedding join. ──
    "q68_training_examples" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id").as("doc_id"), col("label"))
        val hv = docHash
        val tk = tokens(col("text"))
        val canon = docs.groupBy(md5(col("text")).as("h"))
          .agg(min(col("doc_id")).as("keep_doc"))
        docs
          .withColumn("reason_mask", ruleMask)
          .filter(col("reason_mask") === 0)
          .join(canon, md5(col("text")) === col("h") &&
            col("doc_id") === col("keep_doc"))
          .join(emb, Seq("doc_id"))
          .select(col("doc_id"), col("source"), col("label"),
            size(tk).cast("long").as("n_tokens"),
            size(sequence(lit(1), size(tk), lit(24))).cast("long").as("n_chunks"),
            (hv % 100 < 50).cast("int").as("in_train_split"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH canon AS (SELECT md5(text) AS h, MIN(doc_id) AS keep_doc
             |               FROM documents GROUP BY 1),
             |s AS (SELECT doc_id, source, text,
             |    len(string_split(text,' ')) AS n_tokens,
             |    CAST(LENGTH(text) - len(string_split(text,' ')) + 1 AS DOUBLE)
             |      / len(string_split(text,' ')) AS atl,
             |    CAST(len(list_filter(string_split(text,' '),
             |        t -> t IN ('the','data','row','scan','join','query'))) AS DOUBLE)
             |      / len(string_split(text,' ')) AS stop_ratio
             |  FROM documents)
             |SELECT s.doc_id, s.source, e.label,
             |  CAST(s.n_tokens AS BIGINT) AS n_tokens,
             |  CAST(len(range(1, s.n_tokens + 1, 24)) AS BIGINT) AS n_chunks,
             |  CAST(((s.doc_id % 1000000007) * 2654435761) % 1000000007 % 100 < 50
             |    AS INT) AS in_train_split
             |FROM s
             |JOIN canon c ON md5(s.text) = c.h AND s.doc_id = c.keep_doc
             |JOIN embeddings e ON e.vec_id = s.doc_id
             |WHERE s.n_tokens BETWEEN 24 AND 88 AND s.atl BETWEEN 4.0 AND 5.0
             |  AND s.stop_ratio >= 0.08
             |ORDER BY doc_id""".stripMargin)),

    // ── BM25 retrieval (k1=1.2, b=0.75) for a fixed query, top-20. tf
    //    joins carry integer counts; the only floats are the final scoring
    //    expression, identical term-for-term in both engines, rounded to
    //    6 decimals to absorb summation-order ulps. df is computed from
    //    the tf relation (already term-filtered) — never a full-vocabulary
    //    aggregation. ──
    "q58_bm25" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val terms = Seq("spark", "merge", "window")
        val dl = docs.select(col("doc_id"),
          size(tokens(col("text"))).cast("long").as("dl"))
        val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
        val tf = docs
          .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
          .filter(col("token").isInCollection(terms))
          .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
        val df = tf.groupBy(col("token"))
          .agg(count_distinct(col("doc_id")).as("df"))
        tf.join(broadcast(df), Seq("token"))
          .join(dl, Seq("doc_id"))
          .crossJoin(broadcast(stats))
          .withColumn("contrib",
            log(lit(1) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)) *
              col("tf") * 2.2 /
              (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
          .groupBy(col("doc_id"))
          .agg(round(sum(col("contrib")), 6).as("bm25"))
          .orderBy(col("bm25").desc, col("doc_id"))
          .limit(20)
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
             |            FROM documents),
             |dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
             |stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
             |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok
             |       WHERE token IN ('spark', 'merge', 'window') GROUP BY 1, 2),
             |df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
             |scored AS (
             |  SELECT t.doc_id,
             |    SUM(ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
             |        * t.tf * 2.2 / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl))) AS score
             |  FROM tf t JOIN df d USING (token) JOIN dl l USING (doc_id), stats s
             |  GROUP BY 1)
             |SELECT doc_id, ROUND(score, 6) AS bm25
             |FROM scored ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin)),

    // ── deterministic exact-quota stratified sampling: 25% per source
    //    stratum, membership decided by a multiplicative integer hash of
    //    doc_id (identical arithmetic both engines — content-addressed, so
    //    the sample is stable across runs, partitionings and cluster
    //    sizes, unlike rand()-based sampling). Exact quota via HASH
    //    THRESHOLDS ([[stratifiedSample]]): histogram → cutoff bucket →
    //    exact k-th threshold → parallel filter; the window formulation
    //    the oracle uses ([[stratifiedSampleByRank]]) is spec-pinned
    //    equal but serializes each stratum through one task. ──
    "q59_stratified_sample" -> QueryDef(
      (s, d) => stratifiedSample(Tables.documents(s, d), rate = 0.25),
      Some("""WITH h AS (SELECT doc_id, source,
             |    ((doc_id % 1000000007) * 2654435761) % 1000000007 AS hv FROM documents),
             |r AS (SELECT doc_id, source, hv,
             |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv, doc_id) AS rk,
             |    COUNT(*) OVER (PARTITION BY source) AS n FROM h)
             |SELECT doc_id, source FROM r WHERE rk <= CEIL(n * 0.25)
             |ORDER BY doc_id""".stripMargin)),

    // ── benchmark decontamination: a training document (source ≠ src0,
    //    the held-out "eval" slice) is contaminated if it shares ANY
    //    8-char-gram fingerprint with any eval document — the C4/Dolma
    //    train-test overlap scrub. The gram universe is hashed (the same
    //    cross-engine polynomial as q33), the eval side collapses to a
    //    DISTINCT gram set (eval corpora are small → broadcast at scale),
    //    and the join counts per-doc distinct hits. ──
    "q61_decontaminate" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val g = docs.select(col("doc_id"), col("source"),
          array_distinct(graft.functions.GramHashArray(col("text"))).as("gs"))
        val ev = g.filter(col("source") === "src0")
          .select(explode(col("gs")).as("g")).distinct()
        val tr = g.filter(col("source") =!= "src0")
          .select(col("doc_id"), explode(col("gs")).as("g"))
        // per-doc grams are already distinct, so plain count = distinct hits
        tr.join(ev, Seq("g"))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
          // per-document output: see orderedOutput note on q57
          .orderedOutput(col("doc_id"))
      },
      Some(s"""WITH g AS (SELECT doc_id, source,
             |    list_distinct(list_transform(generate_series(1, length(text) - 7),
             |      i -> (${(0 until 8).map(DedupQueries.gramHashSql).mkString(" + ")})
             |           % 1000000007)) AS gs
             |  FROM documents),
             |ev AS (SELECT DISTINCT unnest(gs) AS g FROM g WHERE source = 'src0'),
             |tr AS (SELECT doc_id, unnest(gs) AS g FROM g WHERE source <> 'src0')
             |SELECT tr.doc_id, COUNT(*) AS n_hits
             |FROM tr JOIN ev ON tr.g = ev.g
             |GROUP BY tr.doc_id ORDER BY doc_id""".stripMargin)),

    // ── bloom-prefiltered decontamination: the middle-scale shape of
    //    q61. q61 joins the corpus gram stream against the exact eval
    //    gram set — fine while the eval set broadcasts as longs. When it
    //    doesn't (pretraining-scale held-out suites), the bloom carries
    //    the same membership at ~10 bits per gram instead of 64+, and
    //    the corpus side drops non-members MAP-SIDE inside codegen
    //    (Spark's native BloomFilterMightContain — no UDF): only the
    //    tiny surviving fraction ever shuffles into the exact verify
    //    join. FPP affects only how many false survivors the exact join
    //    then discards — the result is bit-identical to q61 (same
    //    oracle; PipelineQueriesSpec pins path equality and that the
    //    prefilter actually prunes). ──
    "q111_bloom_decontaminate" -> QueryDef(
      (s, d) => bloomDecontaminate(Tables.documents(s, d)),
      Some(s"""WITH g AS (SELECT doc_id, source,
             |    list_distinct(list_transform(generate_series(1, length(text) - 7),
             |      i -> (${(0 until 8).map(DedupQueries.gramHashSql).mkString(" + ")})
             |           % 1000000007)) AS gs
             |  FROM documents),
             |ev AS (SELECT DISTINCT unnest(gs) AS g FROM g WHERE source = 'src0'),
             |tr AS (SELECT doc_id, unnest(gs) AS g FROM g WHERE source <> 'src0')
             |SELECT tr.doc_id, COUNT(*) AS n_hits
             |FROM tr JOIN ev ON tr.g = ev.g
             |GROUP BY tr.doc_id ORDER BY doc_id""".stripMargin)),

    // ── intra-document repetition (quality filter): fraction of repeated
    //    token trigrams — high values flag boilerplate/spam. Native
    //    TokenNgramStats: one compiled pass per row (the HOF formulation
    //    ran interpreted and scanned the trigram array twice — 6.8 s at
    //    sf0.1 vs ~0.3 s native); barrier so the struct's two field
    //    extractions don't re-inline the pass. ──
    "q62_repetition" -> QueryDef(
      (s, d) => {
        val tk = tokens(col("text"))
        Tables.documents(s, d)
          .filter(size(tk) >= 3)
          .select(col("doc_id"), graft.functions.CollapseBarrier(
            graft.functions.TokenNgramStats(col("text"), 3)).as("st"))
          .select(col("doc_id"), col("st.n_gram").as("n_tri"),
            col("st.n_distinct").as("n_distinct"))
          .withColumn("rep_ratio",
            round(lit(1) - col("n_distinct").cast("double") / col("n_tri"), 6))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
             |tri AS (SELECT doc_id, [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
             |                        for i in generate_series(1, len(tk)-2)] AS tris
             |        FROM t WHERE len(tk) >= 3)
             |SELECT doc_id, CAST(len(tris) AS BIGINT) AS n_tri,
             |  CAST(len(list_distinct(tris)) AS BIGINT) AS n_distinct,
             |  ROUND(1 - CAST(len(list_distinct(tris)) AS DOUBLE)/len(tris), 6) AS rep_ratio
             |FROM tri ORDER BY doc_id""".stripMargin)),

    // ── rare-token rate (OOV-style quality signal): a token is "rare"
    //    when its corpus frequency is under half the MEAN token frequency
    //    — the threshold is data-derived and compared in exact integer
    //    arithmetic (f · 2 · n_distinct < total_tokens), so both engines
    //    agree bit-for-bit. Corpus frequency table is vocabulary-sized →
    //    broadcast; AQE picks it without a hint. ──
    "q63_rare_tokens" -> QueryDef(
      (s, d) => {
        val tok = Tables.documents(s, d)
          .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
        val freq = tok.groupBy(col("t")).agg(count(lit(1)).as("f"))
        val totals = freq.agg(sum(col("f")).as("total"),
          count(lit(1)).as("n_distinct"))
        tok.join(freq, Seq("t")).crossJoin(broadcast(totals))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("f") * 2 * col("n_distinct") < col("total"), 1L)
              .otherwise(0L)).as("n_rare"))
          .withColumn("rare_ratio",
            round(col("n_rare").cast("double") / col("n_tokens"), 6))
          // per-document output: see orderedOutput note on q57
          .orderedOutput(col("doc_id"))
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS t FROM documents),
             |freq AS (SELECT t, COUNT(*) AS f FROM tok GROUP BY 1),
             |tot AS (SELECT SUM(f) AS total, COUNT(*) AS n_distinct FROM freq),
             |d AS (SELECT tok.doc_id, COUNT(*) AS n_tokens,
             |        SUM(CASE WHEN f.f * 2 * t.n_distinct < t.total THEN 1 ELSE 0 END) AS n_rare
             |      FROM tok JOIN freq f USING (t), tot t GROUP BY 1)
             |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
             |  CAST(n_rare AS BIGINT) AS n_rare,
             |  ROUND(CAST(n_rare AS DOUBLE)/n_tokens, 6) AS rare_ratio
             |FROM d ORDER BY doc_id""".stripMargin)),

    // ── corpus mixing under a token budget: per source stratum, admit
    //    documents in content-hash order until the cumulative token count
    //    reaches the budget — the deterministic "data mixture" step of a
    //    training run (same hash as q59, so mixture ⊆ sample decisions
    //    stay consistent across pipeline stages). Two-phase distributed
    //    prefix sum ([[tokenBudgetMix]]); the running-sum window the
    //    oracle uses ([[tokenBudgetMixWindow]]) is spec-pinned equal but
    //    serializes each stratum through one task. ──
    "q64_token_budget_mix" -> QueryDef(
      (s, d) => tokenBudgetMix(Tables.documents(s, d), budget = 500L),
      Some("""WITH d AS (SELECT doc_id, source, len(string_split(text,' ')) AS n_tokens,
             |    ((doc_id % 1000000007) * 2654435761) % 1000000007 AS hv FROM documents),
             |c AS (SELECT doc_id, source, n_tokens,
             |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY hv, doc_id
             |      ROWS UNBOUNDED PRECEDING) AS cum_tokens FROM d)
             |SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
             |  CAST(cum_tokens AS BIGINT) AS cum_tokens
             |FROM c WHERE cum_tokens <= 500 ORDER BY doc_id""".stripMargin)),

    // ── Gopher/C4-style rule filter: per-document keep decision plus a
    //    reason bitmask (1 = token count outside [24,88], 2 = mean token
    //    length outside [4,5], 4 = stopword ratio < 0.08). Ratio
    //    comparisons are exact int-division doubles — identical operands
    //    both engines. Scalar per-row expressions: no shuffle. ──
    "q65_rule_filter" -> QueryDef(
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), ruleMask.as("reason_mask"))
        .withColumn("keep", when(col("reason_mask") === 0, 1).otherwise(0))
        .orderBy(col("doc_id")),
      Some("""WITH s AS (SELECT doc_id,
             |    len(string_split(text,' ')) AS n_tokens,
             |    CAST(LENGTH(text) - len(string_split(text,' ')) + 1 AS DOUBLE)
             |      / len(string_split(text,' ')) AS atl,
             |    CAST(len(list_filter(string_split(text,' '),
             |        t -> t IN ('the','data','row','scan','join','query'))) AS DOUBLE)
             |      / len(string_split(text,' ')) AS stop_ratio
             |  FROM documents)
             |SELECT doc_id,
             |  (CASE WHEN n_tokens < 24 OR n_tokens > 88 THEN 1 ELSE 0 END
             |   + CASE WHEN atl < 4.0 OR atl > 5.0 THEN 2 ELSE 0 END
             |   + CASE WHEN stop_ratio < 0.08 THEN 4 ELSE 0 END) AS reason_mask,
             |  CASE WHEN n_tokens < 24 OR n_tokens > 88 OR atl < 4.0 OR atl > 5.0
             |       OR stop_ratio < 0.08 THEN 0 ELSE 1 END AS keep
             |FROM s ORDER BY doc_id""".stripMargin)),

    // ── corpus-trained bigram LM quality score (the KenLM-style
    //    perplexity filter of C4/Gopher pipelines, self-trained): score =
    //    mean over a doc's token bigrams of ln P(t2|t1) under add-one
    //    smoothing, P = (C2+1)/(C1+V) with corpus-wide counts. Bigram
    //    counts shuffle-join on (t1,t2) — bigram-vocabulary-sized, the
    //    scale-correct shape; unigram counts and V are vocabulary-sized
    //    (AQE broadcasts when small). ln ulp differences and
    //    summation-order noise (~1e-14) sit far below the 6-decimal
    //    rounding, the q58 BM25 precedent. ──
    "q72_bigram_lm_score" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val big = adjacentBigrams(docs)
        // r12: both count tables read the registry-shared aggregates
        // (q119 consumes the identical relations — guide §1.2)
        val c2 = bigramCountsShared(docs).withColumnRenamed("c", "c2")
        val c1 = unigramCountsShared(docs)
          .select(col("t"), col("c").as("c1"))
        // V = |c1| — derive from the count relation instead of a second
        // distinct pass over the exploded tokens
        val v = c1.agg(count(lit(1)).as("v"))
        big.join(c2, Seq("t1", "t2"))
          .join(c1, col("t") === col("t1")).drop("t")
          .crossJoin(broadcast(v))
          .withColumn("logp", log((col("c2") + lit(1.0)) / (col("c1") + col("v"))))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            round(sum(col("logp")) / count(lit(1)), 6).as("lm_score"))
          .orderedOutput(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
             |big AS (SELECT doc_id, tk[i] AS t1, tk[i+1] AS t2
             |        FROM t, LATERAL (SELECT unnest(generate_series(1, len(tk)-1)) AS i)
             |        WHERE len(tk) >= 2),
             |uni AS (SELECT unnest(string_split(text,' ')) AS t FROM documents),
             |c2 AS (SELECT t1, t2, COUNT(*) AS c2 FROM big GROUP BY 1, 2),
             |c1 AS (SELECT t, COUNT(*) AS c1 FROM uni GROUP BY 1),
             |v AS (SELECT COUNT(DISTINCT t) AS v FROM uni)
             |SELECT b.doc_id, COUNT(*) AS n_bigrams,
             |  ROUND(SUM(ln((c.c2 + 1.0) / (u.c1 + w.v))) / COUNT(*), 6) AS lm_score
             |FROM big b JOIN c2 c USING (t1, t2) JOIN c1 u ON u.t = b.t1, v w
             |GROUP BY b.doc_id ORDER BY doc_id""".stripMargin)),

    // ── PII scrub (the C4-style redaction pass): per-doc counts of
    //    email-, IPv4- and long-digit-run-shaped spans plus the post-
    //    redaction length. Patterns restricted to syntax Java regex and
    //    RE2 share (no lookaround/backrefs); replacements applied in a
    //    fixed order (email → ip → digit run) so both engines see
    //    identical intermediate strings. Pure per-row expressions: no
    //    shuffle, embarrassingly parallel. ──
    "q73_pii_scrub" -> QueryDef(
      (s, d) => {
        val email = "[a-z0-9.]+@[a-z0-9.]+\\.[a-z][a-z]+"
        val ip = "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+"
        val num = "[0-9][0-9][0-9][0-9][0-9][0-9][0-9]+"
        val r1 = regexp_replace(col("text"), email, "<PII>")
        val r2 = regexp_replace(r1, ip, "<PII>")
        val r3 = regexp_replace(r2, num, "<PII>")
        Tables.documents(s, d)
          .select(col("doc_id"),
            size(regexp_extract_all(col("text"), lit(email), lit(0)))
              .cast("long").as("n_email"),
            size(regexp_extract_all(r1, lit(ip), lit(0)))
              .cast("long").as("n_ip"),
            size(regexp_extract_all(r2, lit(num), lit(0)))
              .cast("long").as("n_longnum"),
            length(r3).cast("long").as("redacted_len"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  CAST(len(regexp_extract_all(text, '[a-z0-9.]+@[a-z0-9.]+\.[a-z][a-z]+')) AS BIGINT) AS n_email,
             |  CAST(len(regexp_extract_all(regexp_replace(text, '[a-z0-9.]+@[a-z0-9.]+\.[a-z][a-z]+', '<PII>', 'g'),
             |    '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+')) AS BIGINT) AS n_ip,
             |  CAST(len(regexp_extract_all(regexp_replace(regexp_replace(text,
             |      '[a-z0-9.]+@[a-z0-9.]+\.[a-z][a-z]+', '<PII>', 'g'),
             |      '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+', '<PII>', 'g'),
             |    '[0-9][0-9][0-9][0-9][0-9][0-9][0-9]+')) AS BIGINT) AS n_longnum,
             |  CAST(length(regexp_replace(regexp_replace(regexp_replace(text,
             |      '[a-z0-9.]+@[a-z0-9.]+\.[a-z][a-z]+', '<PII>', 'g'),
             |      '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+', '<PII>', 'g'),
             |    '[0-9][0-9][0-9][0-9][0-9][0-9][0-9]+', '<PII>', 'g')) AS BIGINT) AS redacted_len
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ── document chunking: 32-token windows at stride 24 (8-token
    //    overlap), trailing partial window kept — the standard
    //    context-window preparation step. Pure per-row explode: no
    //    shuffle, scales embarrassingly. ──
    "q60_doc_chunks" -> QueryDef(
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .select(col("doc_id"), col("tk"),
          explode(sequence(lit(1), size(col("tk")), lit(24))).as("s"))
        .select(col("doc_id"),
          ((col("s") - 1) / 24).cast("long").as("chunk_id"),
          size(slice(col("tk"), col("s"), lit(32))).cast("long").as("n_chunk_tokens"),
          concat_ws(" ", slice(col("tk"), col("s"), lit(32))).as("chunk_text"))
        .orderBy(col("doc_id"), col("chunk_id")),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             |st AS (SELECT doc_id, tk, unnest(range(1, len(tk) + 1, 24)) AS s FROM t)
             |SELECT doc_id, CAST((s - 1) // 24 AS BIGINT) AS chunk_id,
             |  CAST(len(list_slice(tk, s, s + 31)) AS BIGINT) AS n_chunk_tokens,
             |  array_to_string(list_slice(tk, s, s + 31), ' ') AS chunk_text
             |FROM st ORDER BY doc_id, chunk_id""".stripMargin))
  )
}
