package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import QueryDef.OrderedResultOps

/** Training-data-pipeline battery #3 (round 7): corpus statistics and
  * selection operators a curation pipeline runs BEFORE mixing — heavy
  * hitters (vocabulary boilerplate detection), weighted document
  * sampling, and cross-document n-gram novelty. All three follow the
  * sketch-then-verify pattern: a bounded-state distributed summary
  * proposes, an exact pass disposes — so the oracle can check the final
  * answer exactly while the shapes stay 100 TB-safe.
  *
  * Reference scope note: the reference engine (dystonse-gtfs-data) has no
  * corpus battery; these extend the engine for large-scale training-data
  * pipelines per the build brief, like DedupQueries/PipelineQueries. */
object CurationQueries {

  /** Exact relative-threshold heavy hitters per group with Misra-Gries
    * candidate generation: tokens whose count × `denom` ≥ the group's
    * total token count m (i.e. frequency ≥ 1/denom).
    *
    * Shape: the MG summary ([[graft.functions.MisraGries]]) holds ≤ 2k
    * counters per partial aggregate — the full token relation is never
    * shuffled by token. Every key with count > m/(k+1) survives the
    * summary, so with k+1 > denom the candidate set is a PROVEN superset
    * of the answer; candidates are ≤ 2k per group (dimension-sized →
    * broadcast), and one exact filtered count over them closes the gap.
    * Wrong-but-plausible alternative: exact groupBy(token) counts —
    * correct, but shuffles every token occurrence at corpus scale for an
    * output of a few hundred rows. */
  def heavyHitters(tokens: DataFrame, denom: Long = 500L,
                   k: Int = 1024): DataFrame = {
    require(k + 1 > denom,
      s"superset guarantee needs k+1 > denom (got k=$k, denom=$denom): " +
        "a key at exactly m/denom must exceed the m/(k+1) survival bound")
    val mg = udaf(new graft.functions.MisraGries(k), Encoders.STRING)
    // candidates and totals ride ONE corpus pass (a separate count agg
    // was a third full scan — r7 review); the summary is one row per
    // source, so materializing it for its two consumers is free
    val summary = Checkpoints.truncate(tokens.groupBy(col("source"))
      .agg(mg(col("token")).as("cs"), count(lit(1)).as("m")))
    val cands = summary.select(col("source"), explode(col("cs")).as("token"))
    val totals = summary.select(col("source"), col("m"))
    tokens.join(broadcast(cands), Seq("source", "token"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("cnt"))
      .join(broadcast(totals), Seq("source"))
      // integer comparison, no float threshold (cnt/m ≥ 1/denom ⇔
      // cnt·denom ≥ m): exact on both engines, no boundary epsilon
      .filter(col("cnt") * denom >= col("m"))
      .select(col("source"), col("token"), col("cnt"))
      .orderedResult(col("source"), col("token"))
  }

  /** Priority sampling (Duffield, Lund & Thorup, JACM 2007): a weighted
    * without-replacement sample of `k` documents per source, weight =
    * token count. Each document gets priority w/u for a uniform u —
    * here u = (portable multiplicative hash of doc_id) / p, so the
    * "randomness" is deterministic and identically reproducible in the
    * oracle. The top-k by priority IS the priority sample.
    *
    * Integer discipline: the priority is materialized as the scaled
    * FLOOR quotient (w · 10¹²) div h — pure BIGINT arithmetic, bit-equal
    * on both engines, no pow/ln whose last-ulp could flip a selection at
    * the boundary (see the float-boundary rule in PERF.md). Quantization
    * ties resolve by doc_id, deterministically on both engines.
    *
    * Shape: [[graft.functions.TopK]] bounded-buffer aggregator — k pairs
    * per partial, map-side combined; no per-source window, no rank
    * shuffle of the corpus. */
  def prioritySample(documents: DataFrame, k: Int = 20): DataFrame = {
    val topk = graft.functions.TopK.longPairUdaf(k)
    // overflow discipline: doc_id reduces mod p BEFORE the multiply
    // ((p-1)·2654435761 < 2^63, so h ∈ [1, p] for ANY doc_id — a raw
    // product wraps negative past id ≈ 3.47e9 and h could hit 0); the
    // weight caps at 10⁶ tokens so w·10¹² ≤ 10¹⁸ < 2^63 (priorities of
    // mega-documents saturate at the cap — they are the most likely
    // picks anyway)
    val prio = documents.select(col("source"), col("doc_id"),
      least(size(split(col("text"), " ")).cast("long"), lit(1000000L)).as("w"),
      (((col("doc_id") % lit(1000000007L)) * lit(2654435761L) + lit(12345L))
        % lit(1000000007L) + lit(1L)).as("h"))
      .select(col("source"), col("doc_id"),
        expr("w * 1000000000000 div h").as("prio"))
    prio.groupBy(col("source"))
      .agg(topk(col("prio"), col("doc_id")).as("top"))
      .select(col("source"), explode(col("top")).as("e"))
      .select(col("source"), col("e._2").as("doc_id"), col("e._1").as("prio"))
      .orderedResult(col("source"), col("doc_id"))
  }

  /** Cross-document n-gram novelty: for each document, the fraction of
    * its distinct 8-char-gram fingerprints whose FIRST corpus occurrence
    * (min doc_id) precedes it — the document-level "how much of this
    * have we already ingested" score curation pipelines use to order or
    * down-weight near-boilerplate (complements q61's cross-corpus
    * decontamination and q69's pairwise span overlap).
    *
    * Shape: one shuffle keyed by gram fingerprint (groupBy min — the
    * canonical inverted index, map-side combinable), one join back on
    * the same key, one per-doc aggregate. Linear in corpus grams; no
    * pairwise anything. */
  def gramNovelty(documents: DataFrame): DataFrame = {
    // `g` has two consumers (min-aggregate + join probe) and IS computed
    // twice; materializing it once was A/B-tested (Checkpoints.truncate,
    // r7) and came out a wash at sf0.1 (2.50 s recompute vs 2.66 s
    // truncated) — the exploded gram relation is ~300× the input, so
    // writing it costs what the second compiled hash pass does. Contrast
    // prefixSimilarityJoin's index: FOUR consumers, measured win.
    val g = documents.filter(length(col("text")) >= 8)
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.GramHashArray(col("text")))).as("g"))
    val first = g.groupBy(col("g")).agg(min(col("doc_id")).as("first_id"))
    g.join(first, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum((col("first_id") < col("doc_id")).cast("long")).as("n_stale"))
      .withColumn("novelty",
        round(lit(1) - col("n_stale").cast("double") / col("n_grams"), 6))
      // per-document output: parallel range sort (see orderedOutput)
      .orderedOutput(col("doc_id"))
  }

  /** Per-source distinctive terms — the keyword-extraction corpus report
    * (which vocabulary is CONCENTRATED in each source?): for tokens
    * appearing in ≥ `minDf` distinct documents, the concentration score
    * tf_source·10⁶ div tf_corpus (share of the token's occurrences owned
    * by the source, pure BIGINT), reporting every token whose score ties
    * or beats the source's k-th largest (RANK ≤ k semantics — ties at
    * the boundary are kept, so the answer set is deterministic without a
    * tie-break policy).
    *
    * Shape: three keyed aggregates over the token stream (source tf,
    * corpus tf, distinct-doc df — all map-side combinable), and the
    * per-source k-th largest score via [[Selection.kthSmallest]] at rank
    * n−k+1 (≤ 7 aggregate passes, no rank window over the vocabulary);
    * the threshold relation is one row per source → broadcast. */
  def distinctiveTerms(documents: DataFrame, k: Int = 10,
                       minDf: Long = 5L): DataFrame = {
    val tok = documents.select(col("doc_id"), col("source"),
      explode(split(col("text"), " ")).as("token"))
    val dfDocs = tok.select(col("token"), col("doc_id")).distinct()
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    val corpusTf = tok.groupBy(col("token")).agg(count(lit(1)).as("ctf"))
    val srcTf = tok.groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val scores = srcTf.join(corpusTf, Seq("token"))
      .join(dfDocs.filter(col("df") >= minDf), Seq("token"))
      .select(col("source"), col("token"), col("tf"), col("df"),
        expr("tf * 1000000 div ctf").as("score"))
    val thresh = Selection.kthSmallest(
      scores.select(col("source"), col("score")), "source", "score",
      n => math.max(n - (k - 1), 1L))
      .withColumnRenamed("score", "vk")
    scores.join(broadcast(thresh), Seq("source"))
      .filter(col("score") >= col("vk"))
      .select(col("source"), col("token"), col("tf"), col("df"), col("score"))
      .orderedResult(col("source"), col("token"))
  }

  /** Incremental dedup — the production shape near-dup detection actually
    * runs in: a daily INCOMING batch screened against the EXISTING
    * corpus (and against itself), rather than an offline all-corpus
    * self-join. Per incoming document: exact-duplicate flag (content
    * equality vs existing), near-dup match counts vs existing and vs the
    * rest of the batch (token Jaccard ≥ `threshold`).
    *
    * Shape (PROBE-ONLY, the r7 verdict task): cross-side matches come
    * from [[DedupQueries.tokenProbeJoin]] — the existing corpus is the
    * INDEX (its frequency table + prefix entries are the persistable
    * artifact; see [[DedupQueries.PrefixIndex]]), the batch PROBES it,
    * and existing×existing candidates are never generated — so the
    * per-batch cost tracks the batch's probe volume against the index's
    * posting lists, not the corpus's pair density. In-batch matches are
    * the symmetric [[DedupQueries.tokenPrefixJoin]] over the batch
    * ALONE (batch-quadratic at worst, corpus-independent). Exact dups
    * go through a content-hash equi-join, never a text comparison
    * shuffle of full documents. Sides are separate relations end to
    * end, so colliding doc_id namespaces need no encoding.
    * [[incrementalDedupUnionShape]] keeps the one-pass symmetric twin;
    * CurationSpec pins the two equal on planted cross-corpus and
    * in-batch duplicates. */
  def incrementalDedup(existing: DataFrame, incoming: DataFrame,
                       threshold: Double = 0.8,
                       heavyListThreshold: Int = 512): DataFrame = {
    val cross = DedupQueries.tokenProbeJoin(existing, incoming,
      threshold, heavyListThreshold)
    val inBatch = DedupQueries.tokenPrefixJoin(
      incoming.select(col("doc_id"), lit("all").as("source"), col("text")),
      threshold, heavyListThreshold, sorted = false)
    val nExist = cross.groupBy(col("id_probe").as("doc_id"))
      .agg(count(lit(1)).as("n_exist_matches"))
    // each unordered in-batch pair contributes to BOTH members
    val nBatch = inBatch
      .select(explode(array(col("id1"), col("id2"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_batch_matches"))
    val exact = incoming.select(col("doc_id"), md5(col("text")).as("h"))
      .join(existing.select(md5(col("text")).as("h")).distinct(), Seq("h"))
      .select(col("doc_id")).distinct()
      .withColumn("is_exact_dup", lit(1L))
    incoming.select(col("doc_id"))
      .join(nExist, Seq("doc_id"), "left")
      .join(nBatch, Seq("doc_id"), "left")
      .join(exact, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_exist_matches"), lit(0L)).as("n_exist_matches"),
        coalesce(col("n_batch_matches"), lit(0L)).as("n_batch_matches"),
        coalesce(col("is_exact_dup"), lit(0L)).as("is_exact_dup"))
      // per-incoming-document output: parallel range sort
      .orderedOutput(col("doc_id"))
  }

  /** The one-pass SYMMETRIC twin of [[incrementalDedup]]: one
    * [[DedupQueries.tokenPrefixJoin]] over the side-encoded union
    * (uid = doc_id·2, +1 for incoming — disjoint namespaces + parity
    * attribution), existing×existing pairs generated and discarded.
    * Fine when both sides fit one pass (ad-hoc comparisons, tests);
    * the probe shape is the production form — this one's candidate
    * volume tracks the UNION's pair density, the wrong input for a
    * corpus-vs-batch screen (the r7 verdict finding). Kept as the
    * independent formulation CurationSpec pins the probe shape
    * against. Preconditions: doc_id ≥ 0 and < 2⁶². */
  def incrementalDedupUnionShape(existing: DataFrame, incoming: DataFrame,
                                 threshold: Double = 0.8,
                                 heavyListThreshold: Int = 512): DataFrame = {
    val e = existing.select((col("doc_id") * 2).as("doc_id"), col("text"))
    val i = incoming.select((col("doc_id") * 2 + 1).as("doc_id"), col("text"))
    val all = e.unionByName(i)
    // heavyListThreshold 512, not the source-grouped joins' 4096: the
    // union is ONE logical block, so posting lists run corpus-wide (the
    // bench corpus's tiny shared vocabulary gives median df ≈ 3900 at
    // sf0.1 — most lists land just UNDER 4096). On lists that size the
    // interpreted per-list pair generator costs ~3× the codegen'd
    // salted join per candidate (warm A/B at sf0.1: 53.8/53.9 s at 4096
    // vs 18.9/17.8 s at 512, identical 10.4M pairs), so route them to
    // the join; the light path keeps only genuinely rare tokens
    val pairs = DedupQueries.tokenPrefixJoin(
      all.select(col("doc_id"), lit("all").as("source"), col("text")),
      threshold, heavyListThreshold, sorted = false)
    // each unordered pair contributes to ITS incoming member(s) — ONE
    // explode (a second consumer of `pairs` re-executes the whole
    // candidate pipeline, measured 2×), attributed by uid parity alone
    val perDoc = pairs.select(explode(array(
        struct(col("id1").as("uid"), col("id2").as("ouid")),
        struct(col("id2").as("uid"), col("id1").as("ouid")))).as("m"))
      .select(col("m.uid").as("uid"), col("m.ouid").as("ouid"))
      .filter(col("uid") % 2 === 1)
      .groupBy(expr("uid div 2").as("doc_id"))
      .agg(sum(when(col("ouid") % 2 === 0, 1L).otherwise(0L)).as("n_exist_matches"),
        sum(when(col("ouid") % 2 === 1, 1L).otherwise(0L)).as("n_batch_matches"))
    val exact = incoming.select(col("doc_id"), md5(col("text")).as("h"))
      .join(existing.select(md5(col("text")).as("h")).distinct(), Seq("h"))
      .select(col("doc_id")).distinct()
      .withColumn("is_exact_dup", lit(1L))
    incoming.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .join(exact, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_exist_matches"), lit(0L)).as("n_exist_matches"),
        coalesce(col("n_batch_matches"), lit(0L)).as("n_batch_matches"),
        coalesce(col("is_exact_dup"), lit(0L)).as("is_exact_dup"))
      // per-incoming-document output: parallel range sort
      .orderedOutput(col("doc_id"))
  }

  /** Leakage-safe train/test split: assignment by DUPLICATE GROUP, not
    * by document. A per-document hash split leaks — a near-duplicate
    * pair straddling train/test inflates eval (the model "memorizes"
    * the test doc's twin), which is why production pipelines split on
    * the dedup-group key. Here: connected components over the near-dup
    * edge relation (q57's group resolution), then a portable integer
    * hash of the COMPONENT id buckets the whole group into test
    * (testPerMille/1000) or train — every member inherits the group's
    * assignment by construction.
    *
    * Shape: the components operator's cost dominates (checkpointed star
    * contraction, see [[ConnectedComponents]]); the split itself is one
    * integer expression per row. */
  def leakageSafeSplit(docs: DataFrame, edges: DataFrame,
                       testPerMille: Int = 100): DataFrame = {
    // validate the knob BEFORE constructing the components relation:
    // ConnectedComponents.components is EAGER (checkpoints + checksum
    // actions inside star contraction), so an invalid knob would burn
    // the full contraction before failing (ADVICE r11). The duplicate
    // require in leakageSafeSplitOn stays for its other callers.
    require(testPerMille >= 0 && testPerMille <= 1000)
    leakageSafeSplitOn(ConnectedComponents.components(
      docs.select(col("doc_id").as("id")), edges), testPerMille)
  }

  /** [[leakageSafeSplit]] over a PRECOMPUTED component assignment —
    * the registry q81 passes the shared q57 components relation (r11)
    * so star contraction runs once per pass, not once per consumer. */
  private[operators] def leakageSafeSplitOn(comps: DataFrame,
                                            testPerMille: Int): DataFrame = {
    require(testPerMille >= 0 && testPerMille <= 1000)
    // reduce mod p BEFORE multiplying: (p-1)·2654435761 ≈ 2.65e18 < 2^63,
    // so the product cannot overflow for ANY component id — a raw
    // component·A wraps negative past id ≈ 3.47e9 (inside the 100 TB
    // envelope), which Java would sign-keep into "always test" and
    // DuckDB would reject as overflow
    comps.select(col("id").as("doc_id"), col("component"),
      when((col("component") % lit(1000000007L) * lit(2654435761L)
        + lit(99991L)) % lit(1000000007L) % lit(1000L) < testPerMille, "test")
        .otherwise("train").as("split"))
      // per-document output: parallel range sort (see orderedOutput)
      .orderedOutput(col("doc_id"))
  }

  /** Data-driven length-outlier fences per source (the C4/Gopher length-
    * filter family, but thresholds come from the corpus itself): exact
    * token-count quartiles per source at ranks ⌈n/4⌉ and ⌈3n/4⌉, then
    * Tukey's fences q1 − 1.5·IQR / q3 + 1.5·IQR count the documents a
    * curation pass would drop as too short / too long for their stratum.
    *
    * Quartiles are EXACT order statistics via [[Selection.kthSmallest]]
    * (≤ 7 map-side aggregate passes per rank, no per-source sort or
    * window); the fence compare stays integer-exact by scaling ×2
    * (2·n < 2·q1 − 3·IQR) instead of multiplying by 1.5. Output is
    * one row per source — the quartiles themselves plus both outlier
    * counts — so the check verifies the full construction even when a
    * tight distribution yields zero outliers. */
  def lengthOutlierFences(documents: DataFrame): DataFrame = {
    val d = documents.select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val base = d.select(col("source"), col("n_tokens"))
    // r11: both quartiles refine JOINTLY — one histogram job per round
    // instead of two full refinement loops (Selection.kthSmallestRanks)
    val qs = Selection.kthSmallestRanks(base, "source", "n_tokens",
      Seq(n => (n + 3) / 4, n => (3 * n + 3) / 4))
    val q1 = qs(0).withColumnRenamed("n_tokens", "q1")
    val q3 = qs(1).withColumnRenamed("n_tokens", "q3")
    d.join(broadcast(q1), Seq("source")).join(broadcast(q3), Seq("source"))
      .groupBy(col("source"))
      .agg(max(col("q1")).as("q1"), max(col("q3")).as("q3"),
        sum((col("n_tokens") * 2 <
          col("q1") * 2 - (col("q3") - col("q1")) * 3).cast("long"))
          .as("n_low_outliers"),
        sum((col("n_tokens") * 2 >
          col("q3") * 2 + (col("q3") - col("q1")) * 3).cast("long"))
          .as("n_high_outliers"))
      .orderedResult(col("source"))
  }

  /** Cross-source contamination matrix (corpus health: how much content
    * do the mix's sources share BEFORE training?): for every source pair
    * s1 < s2, the count of distinct 8-char-gram fingerprints both
    * contain, plus the gram-set Jaccard. Large overlaps mean the mixing
    * weights double-count the shared content (and a leakage audit should
    * look there first).
    *
    * Shape: the distinct (source, gram) relation is ONE shuffle of the
    * gram stream; the pair join is keyed by gram, and a gram's posting
    * list is bounded by the NUMBER OF SOURCES (each source contributes
    * one distinct row), so the fan-out per key is ≤ sources², never
    * corpus-quadratic — the one self-join in the engine that needs no
    * skew guard by construction. Gram fingerprints are the shared
    * portable polynomial ([[graft.functions.GramHashArray]]), exact in
    * both engines; the Jaccard is one IEEE division of exact BIGINTs. */
  def sourceOverlap(documents: DataFrame): DataFrame = {
    val g = documents.filter(length(col("text")) >= 8)
      .select(col("source"), explode(array_distinct(
        graft.functions.GramHashArray(col("text")))).as("g"))
      .distinct()
    val sizes = g.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val a = g.select(col("g"), col("source").as("s1"))
    val b = g.select(col("g"), col("source").as("s2"))
    a.join(b, Seq("g")).filter(col("s1") < col("s2"))
      .groupBy(col("s1"), col("s2")).agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes.select(col("source").as("s1"), col("n").as("n1"))),
        Seq("s1"))
      .join(broadcast(sizes.select(col("source").as("s2"), col("n").as("n2"))),
        Seq("s2"))
      .select(col("s1"), col("s2"), col("n1"), col("n2"), col("n_shared"),
        (col("n_shared").cast("double") /
          (col("n1") + col("n2") - col("n_shared"))).as("jac"))
      .orderedResult(col("s1"), col("s2"))
  }

  /** Sketch-based source-overlap matrix (q109): the bounded-state twin of
    * [[sourceOverlap]]. Per source, a KMV sketch
    * ([[graft.functions.KmvValues]]) keeps the k smallest distinct
    * multiplicative-hash values of the 8-char-gram fingerprints; the
    * pairwise Jaccard estimate is the k-minimum-values coincidence ratio
    * (Beyer et al., SIGMOD 2007): with U the k smallest values of
    * SA ∪ SB, Ĵ = |U ∩ SA ∩ SB| / |U|.
    *
    * Why it exists next to the exact q98: the exact matrix shuffles the
    * full distinct (source, gram) relation — one row per distinct gram
    * per source, corpus-vocabulary-sized. The sketch path never shuffles
    * grams at all: the gram stream map-side combines into ≤k-long sorted
    * buffers (one per partial aggregate), the final state is
    * sources × k longs, and the pair stage is a broadcast cross of
    * dimension-sized rows. At 100 TB the exact matrix is a vocabulary
    *-scale job; this is a map-side pass. Every step — hash, sketch
    * content, merged-union slice, coincidence count, one IEEE division —
    * is deterministic and re-derived bit-for-bit in DuckDB, so the
    * ESTIMATOR itself is oracle-checked (the q74 pattern, pairwise).
    * CurationSpec's kmvOverlap tests additionally pin k→∞ degeneration to q98's exact
    * jac and bounds the k=256 estimate error. */
  def kmvOverlap(documents: DataFrame, k: Int = 256): DataFrame = {
    val kmv = udaf(new graft.functions.KmvValues(k), Encoders.scalaLong)
    // gram fingerprints are already in [0, p); one more affine spread
    // (g·C mod p, exact BIGINT: both factors < p ≈ 2³⁰ · 4) decorrelates
    // rank order from the polynomial's structure. KMV keeps distinct
    // hashes by construction — no distinct() anywhere.
    val hv = (col("g") * lit(2654435761L)) % lit(1000000007L)
    val sk = documents.filter(length(col("text")) >= 8)
      .select(col("source"), explode(array_distinct(
        graft.functions.GramHashArray(col("text")))).as("g"))
      .select(col("source"), hv.as("hv"))
      .groupBy(col("source")).agg(kmv(col("hv")).as("sk"))
    val a = sk.select(col("source").as("s1"), col("sk").as("ska"))
    val b = sk.select(col("source").as("s2"), col("sk").as("skb"))
    a.crossJoin(broadcast(b)).filter(col("s1") < col("s2"))
      .withColumn("u", slice(array_sort(array_union(col("ska"), col("skb"))), 1, k))
      .withColumn("n_both", size(array_intersect(col("u"),
        array_intersect(col("ska"), col("skb")))))
      .select(col("s1"), col("s2"),
        size(col("ska")).as("n_kept1"), size(col("skb")).as("n_kept2"),
        size(col("u")).as("n_union_kept"), col("n_both"),
        round(col("n_both").cast("double") / size(col("u")), 6).as("jac_est"))
      .orderedResult(col("s1"), col("s2"))
  }

  /** Snapshot diff (q113): per-(source, status) counts of added /
    * removed / changed / unchanged documents between two corpus
    * snapshots — the first question an incremental curation run asks
    * (what moved since last time → what to re-dedup, re-score,
    * re-shard).
    *
    * Shape: each side projects to (doc_id, source, md5(text)) — 16
    * bytes of digest instead of the document body, computed scan-side —
    * then ONE full-outer hash join on doc_id decides every status, and
    * the rollup is a dimension-sized aggregate. The text column never
    * shuffles; over a [[graft.sources.CorpusStore]] layout both sides
    * are pre-bucketed by doc_id and even the digest join is
    * Exchange-free (and the stored content_hash makes the md5
    * recompute unnecessary). md5 over UTF-8 bytes is identical in
    * DuckDB, so statuses — not just counts — are oracle-exact. */
  def corpusDiff(previous: DataFrame, current: DataFrame): DataFrame = {
    def digest(df: DataFrame, h: String, s: String) =
      df.select(col("doc_id"), col("source").as(s),
        md5(col("text").cast("binary")).as(h))
    digest(previous, "h_prev", "src_prev")
      .join(digest(current, "h_cur", "src_cur"), Seq("doc_id"), "full_outer")
      .select(coalesce(col("src_cur"), col("src_prev")).as("source"),
        when(col("h_prev").isNull, lit("added"))
          .when(col("h_cur").isNull, lit("removed"))
          .when(col("h_prev") === col("h_cur"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
      .groupBy(col("source"), col("status")).agg(count(lit(1)).as("n"))
      .orderedResult(col("source"), col("status"))
  }

  /** Posting-list cost probe (q115): per source, the statistics that
    * PREDICT an inverted-index similarity join's cost before running it —
    * distinct tokens, total postings, the longest posting list, the
    * exact co-occurrence row count the plain join would emit
    * (Σ C(f, 2) over posting-list lengths f) and how many lists the
    * heavy-token guard would salt. At 100 TB this one cheap pass is how
    * a deployment picks thresholds (shingle length, guard cutoff, salt)
    * for q44/q48/q56/q112 instead of discovering a quadratic wall mid-
    * job; it is the relational form of the q110 census question, asked
    * BEFORE candidate generation. One token shuffle, dimension-sized
    * output. Caveat (same as [[tokenDiversity]]'s Σ f(f−1)): f·(f−1) is
    * BIGINT — a posting list beyond ~3·10⁹ docs overflows the term
    * (fail-fast under ANSI); at that point the probe's ANSWER is already
    * known (every such list is catastrophically hot) and the KMV/MG
    * sketches are the tool. */
  def joinCostProbe(documents: DataFrame, heavyThreshold: Long = 4096L): DataFrame = {
    val f = documents.select(col("source"), col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("token"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("f"))
    f.groupBy(col("source")).agg(
        count(lit(1)).as("n_distinct_tokens"),
        sum(col("f")).cast("long").as("n_postings"),
        max(col("f")).as("max_f"),
        sum(expr("f * (f - 1) DIV 2")).cast("long").as("pair_rows"),
        sum(when(col("f") >= heavyThreshold, 1L).otherwise(0L))
          .cast("long").as("n_heavy"))
      .orderedResult(col("source"))
  }

  /** Token diversity profile (q116): per source, the lexical-health
    * numbers a corpus report leads with — token count m, vocabulary V,
    * type-token ratio V/m, Simpson collision index Σ f(f−1) / (m(m−1))
    * (the probability two random tokens coincide: boilerplate-heavy
    * sources spike it) and the hapax ratio (fraction of the vocabulary
    * seen once — scrape noise and OCR garbage spike THIS one). All
    * ratios are single fixed IEEE chains over exact integer aggregates,
    * so the oracle checks values, not approximations. One token shuffle,
    * dimension-sized output. Degenerate sources emit NULL, not NaN: a
    * source whose total token count m < 2 has no defined collision
    * probability (0/0 otherwise), and an (unreachable by construction —
    * split() always yields ≥ 1 token per doc) zero vocabulary has no
    * hapax ratio; both guards are mirrored in the oracle. Caveat:
    * Σ f(f−1) is BIGINT — a single token beyond ~3·10⁹ occurrences in
    * one source overflows it; at that scale the KMV/MG sketches
    * (q74/q77) are the tool. */
  def tokenDiversity(documents: DataFrame): DataFrame = {
    val f = documents.select(col("source"),
        explode(split(col("text"), " ")).as("token"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("f"))
    f.groupBy(col("source")).agg(
        sum(col("f")).cast("long").as("m"),
        count(lit(1)).as("v"),
        sum(expr("f * (f - 1)")).cast("long").as("coll"),
        sum(when(col("f") === 1, 1L).otherwise(0L)).cast("long").as("hapax"))
      .select(col("source"), col("m"), col("v"),
        (col("v").cast("double") / col("m").cast("double")).as("ttr"),
        when(col("m") >= 2, col("coll").cast("double") /
          (col("m").cast("double") * (col("m") - 1).cast("double")))
          .as("simpson"),
        when(col("v") > 0,
          col("hapax").cast("double") / col("v").cast("double"))
          .as("hapax_ratio"))
      .orderedResult(col("source"))
  }

  /** Top collocations by association lift (q119): adjacent-token
    * bigrams whose observed rate beats the independence expectation —
    * lift = (c_xy / N_bi) / ((c_x / N) · (c_y / N)) — min support
    * c_xy ≥ `minCount`, top `k` by (lift, w1, w2). Boilerplate phrases
    * ("click here", "all rights reserved") lead this report; it is the
    * phrase-level companion of q77's token heavy hitters.
    *
    * Shapes: bigram and unigram counts are two map-side-combinable
    * aggregates over one tokenized scan each; the corpus totals are
    * single-row broadcasts; the support gate (≥ minCount) shrinks the
    * bigram relation BEFORE the two unigram joins; the final top-k is
    * sort+limit — Spark plans TakeOrdered (per-partition heaps + one
    * k-row merge), never a global sort shuffle. Lift is one fixed IEEE
    * chain over exact BIGINT counts, identical on both engines; ties
    * break on (w1, w2). */
  def collocations(documents: DataFrame, minCount: Long = 10L,
                   k: Int = 20): DataFrame = {
    val tk = split(col("text"), " ")
    // r12: unigram and bigram counts read the registry-shared
    // aggregates (q72's LM tables are the identical relations — guide
    // §1.2); the shared builder keeps the r7f single-token guard
    val uni = PipelineQueries.unigramCountsShared(documents)
      .select(col("t"), col("c").as("cu"))
    val totals = uni.agg(sum(col("cu")).cast("long").as("n_tok"))
    val biCounts = PipelineQueries.bigramCountsShared(documents)
      .select(col("t1").as("w1"), col("t2").as("w2"), col("c").as("c_xy"))
      .filter(col("c_xy") >= minCount)
    // n_bi = Σ max(size-1, 0) — one scalar scan of documents, not a
    // second tokenize+explode pass over the corpus (r7f review)
    val biTotal = documents
      .agg(sum(greatest(size(tk) - 1, lit(0))).cast("long").as("n_bi"))
    biCounts
      .join(uni.select(col("t").as("w1"), col("cu").as("c_x")), Seq("w1"))
      .join(uni.select(col("t").as("w2"), col("cu").as("c_y")), Seq("w2"))
      .crossJoin(broadcast(totals)).crossJoin(broadcast(biTotal))
      .withColumn("lift",
        (col("c_xy").cast("double") / col("n_bi").cast("double")) /
          ((col("c_x").cast("double") / col("n_tok").cast("double")) *
            (col("c_y").cast("double") / col("n_tok").cast("double"))))
      .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"),
        col("lift"))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** BM25 top-k lexical retrieval (q126) — the text-side rung of the
    * similarity-search battery (the embedding side is q26/q92/q93):
    * score every corpus document against a derived query set and keep
    * the k best per query.
    *
    * Scoring is INTEGER-SCALED BM25 (the q86/q107/q114 cross-engine
    * convention — no ln, no float sums, so DuckDB re-derives every bit):
    * with k1 = 6/5 and b = 3/4 folded into exact rationals,
    *   tf_part = 22·S·tf / (10·S·tf + 3·S + 9·N·dl)
    * (S = corpus token count, N = corpus docs, dl = doc length; derived
    * by multiplying the classic tf saturation through by 10·S), and the
    * idf is the Robertson–Sparck Jones ratio surrogate
    *   idf_scaled = (2·(N − df) + 1)·10⁶ div (2·df + 1)
    * — monotone in the classic ln(1 + (N−df+0.5)/(df+0.5)), exact in
    * integers. Every multi-operand product promotes each operand to
    * DECIMAL (Spark) / HUGEINT (DuckDB) BEFORE multiplying, so nothing
    * ever wraps in BIGINT; the largest intermediate,
    * idf·22·S·tf ≈ 4·10³⁶ at 10¹¹ docs, sits inside DECIMAL(38,0),
    * and the integral div lands back in BIGINT. The per-(query, doc)
    * score is an exact integer SUM — order-independent, so both
    * engines agree bit-for-bit with no float epsilon anywhere.
    *
    * Query derivation (deterministic from the data — registry queries
    * take no free text): every `doc_id % queryMod == 0` document
    * contributes its 4 RAREST distinct tokens (lowest corpus df,
    * tie-break token) — the terms that carry the most retrieval signal
    * and probe the smallest posting lists; the query doc itself is
    * excluded from its result list. A production deployment over an
    * open vocabulary ALSO sets `dfPruneFactor` (drop terms with
    * df·factor > N — factor 10 is the classic absolute stopword rule)
    * so no query term's posting list is corpus-sized; the knob is the
    * bound on scored-posting volume at scale (Bm25Spec pins the cut on
    * an open-vocabulary fixture; PERF.md r10 measured the volume). The
    * registered q126 leaves it OFF because the synthetic corpus's
    * CLOSED 31-token vocabulary (median df = 0.78·N) would empty every
    * query under it — vocabulary shape decides the knob, the q56/q80
    * precondition lesson.
    *
    * 100 TB shape: the inverted-index relations (tf with dl riding the
    * key — ONE explode+groupBy corpus pass, no dl join — and the
    * token-keyed df aggregate) are the amortized index build; the query
    * set is dimension-sized → BROADCAST, so scoring is a map-side
    * posting-list filter whose volume is Σ_q Σ_{t∈q} df(t), bounded by
    * the stopword prune — the corpus is never shuffled per query. Top-k
    * is the bounded-buffer [[graft.functions.TopK]] Aggregator (map-side
    * combinable, no rank window). */
  def bm25TopK(documents: DataFrame, k: Int = 5,
               queryMod: Long = 29L, dfPruneFactor: Long = 0L): DataFrame = {
    // r11: the index rides the shared-relation cache — q126/q127/q129
    // consume the identical relations (one corpus pass per registry run)
    val index = buildBm25IndexShared(documents)
    // the derived-knob resolution reads ONE totals row (the documented
    // dimension-sized driver-collect class — centroid seeds, bucket
    // subtotals, and now the corpus doc count)
    val factor =
      if (dfPruneFactor == DerivedPrune)
        dfPruneFactorFor(index.totals.select(col("n_docs")).head().getLong(0))
      else dfPruneFactor
    val qdocs = documents.filter(col("doc_id") % queryMod === 0)
    bm25ScoreIndexed(index,
      bm25QueryTerms(index, qdocs, dfPruneFactor = factor), k)
  }

  /** Sentinel for [[bm25TopK]]'s `dfPruneFactor`: derive the factor
    * from the index's own corpus stats via [[dfPruneFactorFor]]. */
  val DerivedPrune: Long = -1L

  /** Data-derived stopword-prune factor (r9 verdict stretch #8) — the
    * `planesFor`/`kCellsFor` discipline applied to the last hand-set
    * retrieval knob. The knob's JOB is bounding per-query-term posting
    * volume: pruning at df·factor > N caps every surviving posting
    * list at N/factor docs, so the right factor pins that cap at a
    * constant target posting length (the heavy-list-threshold
    * discipline applied to retrieval):
    *
    *   factor = max(2, ceil(N / maxPostingLen))
    *
    * — at most `maxPostingLen` postings scanned per query term at ANY
    * corpus size (1 M docs → factor 245 → cap 4096; 10¹¹ docs → factor
    * ~2.4·10⁷ → cap still 4096), while small corpora degrade to
    * factor 2 = the df > N/2 rule — exactly the regime where BM25's
    * own integer idf numerator 2(N−df)+1 stops discriminating
    * (Robertson idf goes negative past df = N/2, and this scoring's
    * floor-div form bottoms out). Deterministic integer arithmetic,
    * mirrored verbatim in the q129 oracle CTE (`pf`). */
  def dfPruneFactorFor(nDocs: Long, maxPostingLen: Long = 4096L): Long =
    math.max(2L, (nDocs + maxPostingLen - 1L) / maxPostingLen)

  /** The persisted inverted-index artifact of BM25 retrieval — the
    * [[DedupQueries.PrefixIndex]] discipline applied to the retrieval
    * stack: all three are plain relations a deployment writes ONCE per
    * corpus snapshot (CorpusStore layout: key `tf` by token so a probe
    * co-locates; `totals` is one row) and every query batch reads back
    * instead of re-aggregating the corpus. `tf`: (doc_id, dl, token,
    * tf); `df`: (token, df); `totals`: (n_docs, s_tokens). */
  final case class Bm25Index(tf: DataFrame, df: DataFrame, totals: DataFrame)

  /** Build the [[Bm25Index]] in one corpus pass. dl is functionally
    * dependent on doc_id: riding the groupBy key costs nothing and
    * saves a corpus-scale doc-keyed join at scoring time. The tf index
    * is one-shot-truncated for its two in-pass consumers (the df
    * aggregate and the scoring join — the prefixSimilarityJoin
    * discipline). Measured NEUTRAL at sf0.1 (3.4 vs 3.5 s medians,
    * spreads overlap — checkpoint-I/O-bound at bench size); kept
    * because at corpus scale re-running the tokenize+aggregate per
    * consumer is the loss, and the persisted deployment replaces the
    * checkpoint with the parquet artifact anyway. */
  def buildBm25Index(documents: DataFrame): Bm25Index = {
    val base = documents.select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
        explode(col("tk")).as("token"))
    val tf = Checkpoints.truncate(
      base.groupBy(col("doc_id"), col("dl"), col("token"))
        .agg(count(lit(1)).as("tf")))
    val dfRel = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val totals = documents.agg(count(lit(1)).as("n_docs"),
      sum(size(split(col("text"), " "))).cast("long").as("s_tokens"))
    Bm25Index(tf, dfRel, totals)
  }

  /** [[buildBm25Index]] through the registry shared-relation cache
    * (r11 — the q57/q81 edge discipline applied to retrieval): q126,
    * q127 (hybrid) and q129 each rebuilt the identical three index
    * relations in a cold registry pass — three corpus
    * explode+aggregate passes where one serves. The tf relation rides
    * the memo's MEMORY_AND_DISK persist (replacing the one-shot
    * checkpoint, same one-materialization property); df and totals are
    * memoized too so their corpus aggregations run once. Relations are
    * bit-identical to [[buildBm25Index]]'s (same plans), so scoring
    * output — and every oracle — is unchanged. */
  private[operators] def buildBm25IndexShared(documents: DataFrame): Bm25Index = {
    val tf = SharedRelations("bm25tf", documents, 0, 0) {
      documents.select(col("doc_id"), split(col("text"), " ").as("tk"))
        .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
          explode(col("tk")).as("token"))
        .groupBy(col("doc_id"), col("dl"), col("token"))
        .agg(count(lit(1)).as("tf"))
    }
    val dfRel = SharedRelations("bm25df", documents, 0, 0)(
      tf.groupBy(col("token")).agg(count(lit(1)).as("df")))
    val totals = SharedRelations("bm25tot", documents, 0, 0)(
      documents.agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " "))).cast("long").as("s_tokens")))
    Bm25Index(tf, dfRel, totals)
  }

  /** Derive each query doc's `termsPerQuery` RAREST distinct terms
    * under the INDEX's df (lowest df, tie-break token) as (query_id,
    * df, token). Query-doc tokens the index has never seen drop out —
    * they can't match any posting, so scoring loses nothing (the
    * prefixProbeJoin unseen-element argument). Dimension-sized
    * throughout: the candidate terms broadcast against the corpus-scale
    * df relation (map-side), and the per-query selection is a sorted
    * struct collect + slice over <= dl rows — no window; df rides the
    * struct so scoring needs no second df join.
    *
    * `dfPruneFactor` > 0 enables the absolute stopword prune: a term
    * with df·factor > N (the index's corpus doc count) is dropped
    * BEFORE the rarest-k selection — the knob that bounds every query
    * term's posting list to N/factor at open vocabularies. The filter
    * runs map-side on the df relation (one broadcast row of totals);
    * a query doc made entirely of stopwords degrades to an empty term
    * set (no results — the defined partial-signal semantics, mirroring
    * hybridRrf's missing-modality rule). */
  def bm25QueryTerms(index: Bm25Index, queryDocs: DataFrame,
                     termsPerQuery: Int = 4,
                     dfPruneFactor: Long = 0L): DataFrame = {
    val qcand = queryDocs.select(col("doc_id").as("query_id"),
      explode(array_distinct(split(col("text"), " "))).as("token"))
    dfPruned(index.df, dfPruneFactor, index.totals)
      .join(broadcast(qcand), Seq("token"))
      .groupBy(col("query_id"))
      .agg(slice(sort_array(collect_list(struct(col("df"), col("token")))),
        1, termsPerQuery).as("qt"))
      .select(col("query_id"), explode(col("qt")).as("e"))
      .select(col("query_id"), col("e.df").as("df"), col("e.token").as("token"))
  }

  /** The absolute stopword prune, in ONE place for its two callers
    * ([[bm25QueryTerms]], [[bm25ScoreIndexed]]): keep `rel` rows (which
    * must carry `df`) whose df·factor ≤ the index's corpus doc count —
    * one broadcast row of totals, map-side. `factor` ≤ 0 disables. */
  private[graft] def dfPruned(rel: DataFrame, factor: Long,
                              totals: DataFrame): DataFrame =
    if (factor <= 0) rel
    else rel
      .crossJoin(broadcast(totals.select(col("n_docs"))))
      .filter(col("df") * factor <= col("n_docs"))
      .drop("n_docs")

  /** Score a query-term batch against a (possibly persisted)
    * [[Bm25Index]] and keep the top `k` docs per query — the PER-BATCH
    * side of the retrieval stack: one broadcast of the dimension-sized
    * term set, a map-side posting filter on the tf index, and the
    * bounded TopK tail. No corpus aggregation happens here — the index
    * relations carry every corpus-scale statistic (df on the terms, dl
    * on the postings, totals as one row), so a fresh query batch costs
    * its own posting volume, never an index rebuild. `dfPruneFactor`
    * applies the same stopword prune as [[bm25QueryTerms]] to an
    * EXTERNALLY-supplied term batch (qterms carries df, so the guard
    * is one broadcast-totals compare) — the belt for callers that
    * derive terms outside this module. */
  def bm25ScoreIndexed(index: Bm25Index, qterms: DataFrame,
                       k: Int = 5, dfPruneFactor: Long = 0L): DataFrame = {
    val qt = dfPruned(qterms, dfPruneFactor, index.totals)
    // every multi-operand product promotes to DECIMAL *before* the
    // multiply (r8 ADVICE: `22 * s_tokens * tf` evaluated in BIGINT
    // first silently wraps under non-ANSI Spark once s_tokens·tf
    // nears 4·10¹⁷, while DuckDB's HUGEINT twin stays exact). With
    // per-operand casts the largest intermediate is
    // idf(≈2·10¹⁷ at 10¹¹ docs) · 22·S·tf(≈2·10¹⁹) ≈ 4·10³⁶ — inside
    // DECIMAL(38,0), exact on both engines.
    //
    // r11 (guide §1.2, per-task work): everything that depends only on
    // the TERM (the idf integral-divide) or only on corpus totals (the
    // 22S/10S/3S/9N decimal constants) is computed ONCE on the
    // dimension-sized broadcast side — the r10 shape re-evaluated the
    // full 11-operation decimal chain per SCORED ROW (2.6 M rows at
    // sf0.1 paid ~4 decimal casts + the idf division each). The
    // per-row expression keeps the identical operand types and
    // ordering (s22·tf, idf·(…), s10·tf + s3 + n9·dl, integral div),
    // so every intermediate value — and the final long — is unchanged.
    val qtc = qt.crossJoin(broadcast(index.totals))
      .selectExpr("query_id", "token",
        "cast((2 * (n_docs - df) + 1) * 1000000 div (2 * df + 1) as decimal(20,0)) as idf",
        "22 * cast(s_tokens as decimal(20,0)) as s22",
        "10 * cast(s_tokens as decimal(20,0)) as s10",
        "3 * cast(s_tokens as decimal(20,0)) as s3",
        "9 * cast(n_docs as decimal(20,0)) as n9")
    val scored = index.tf.join(broadcast(qtc), Seq("token"))
      .filter(col("doc_id") =!= col("query_id"))
      .selectExpr("query_id", "doc_id",
        "(idf * (s22 * tf)) div (s10 * tf + s3 + n9 * dl) as sterm")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("sterm")).as("score"))
    val topk = graft.functions.TopK.longPairUdaf(k)
    scored.groupBy(col("query_id"))
      .agg(topk(col("score"), col("doc_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("p", "e")))
      .select(col("query_id"), (col("p") + 1).cast("long").as("rank"),
        col("e._2").as("doc_id"), col("e._1").as("score"))
      .orderedResult(col("query_id"), col("rank"))
  }

  val registry: Map[String, QueryDef] = Map(

    // ── top bigram collocations by association lift: two token
    //    aggregates + support-gated unigram joins + TakeOrdered top-k;
    //    lift re-derived exactly in DuckDB ──
    "q119_collocations" -> QueryDef(
      (s, d) => collocations(Tables.documents(s, d)),
      Some("""WITH tk AS (SELECT string_split(text, ' ') AS t FROM documents),
             |toks AS (SELECT unnest(t) AS t FROM tk),
             |bi AS (SELECT t[i] AS w1, t[i + 1] AS w2
             |       FROM tk, unnest(generate_series(1, len(t) - 1)) AS g(i)),
             |uni AS (SELECT t, COUNT(*) AS cu FROM toks GROUP BY t),
             |tot AS (SELECT CAST(SUM(cu) AS BIGINT) AS n_tok FROM uni),
             |bc AS (SELECT w1, w2, COUNT(*) AS c_xy FROM bi GROUP BY 1, 2
             |       HAVING COUNT(*) >= 10),
             |bt AS (SELECT COUNT(*) AS n_bi FROM bi)
             |SELECT bc.w1, bc.w2, bc.c_xy, u1.cu AS c_x, u2.cu AS c_y,
             |  (CAST(bc.c_xy AS DOUBLE) / CAST(bt.n_bi AS DOUBLE))
             |    / ((CAST(u1.cu AS DOUBLE) / CAST(tot.n_tok AS DOUBLE))
             |     * (CAST(u2.cu AS DOUBLE) / CAST(tot.n_tok AS DOUBLE))) AS lift
             |FROM bc JOIN uni u1 ON u1.t = bc.w1
             |        JOIN uni u2 ON u2.t = bc.w2, tot, bt
             |ORDER BY lift DESC, w1, w2 LIMIT 20""".stripMargin)),

    // ── per-source lexical diversity: TTR, Simpson collision index,
    //    hapax ratio — exact integer aggregates, fixed IEEE ratio chains ──
    "q116_token_diversity" -> QueryDef(
      (s, d) => tokenDiversity(Tables.documents(s, d)),
      Some("""WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS token
             |          FROM documents),
             |f AS (SELECT source, token, COUNT(*) AS f FROM t GROUP BY 1, 2),
             |a AS (SELECT source, CAST(SUM(f) AS BIGINT) AS m, COUNT(*) AS v,
             |    CAST(SUM(f * (f - 1)) AS BIGINT) AS coll,
             |    CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax
             |  FROM f GROUP BY source)
             |SELECT source, m, v,
             |  CAST(v AS DOUBLE) / CAST(m AS DOUBLE) AS ttr,
             |  CASE WHEN m >= 2 THEN CAST(coll AS DOUBLE)
             |    / (CAST(m AS DOUBLE) * CAST(m - 1 AS DOUBLE)) END AS simpson,
             |  CASE WHEN v > 0
             |    THEN CAST(hapax AS DOUBLE) / CAST(v AS DOUBLE) END AS hapax_ratio
             |FROM a ORDER BY source""".stripMargin)),

    // ── inverted-index cost probe: posting-list length distribution +
    //    exact predicted co-occurrence volume per source — the
    //    threshold-picking pass that runs BEFORE a similarity join ──
    "q115_join_cost_probe" -> QueryDef(
      (s, d) => joinCostProbe(Tables.documents(s, d)),
      Some("""WITH t AS (SELECT doc_id, source,
             |    unnest(list_distinct(string_split(text, ' '))) AS token
             |  FROM documents),
             |f AS (SELECT source, token, COUNT(*) AS f FROM t GROUP BY 1, 2)
             |SELECT source, COUNT(*) AS n_distinct_tokens,
             |  CAST(SUM(f) AS BIGINT) AS n_postings,
             |  MAX(f) AS max_f,
             |  CAST(SUM(f * (f - 1) // 2) AS BIGINT) AS pair_rows,
             |  CAST(SUM(CASE WHEN f >= 4096 THEN 1 ELSE 0 END) AS BIGINT) AS n_heavy
             |FROM f GROUP BY source ORDER BY source""".stripMargin)),

    // ── corpus snapshot diff: the "previous" snapshot is derived
    //    deterministically from the table by content-hash bucket
    //    (bucket 0 absent from prev → added; bucket 1 text-edited →
    //    changed; bucket 2 contributes a retired shifted twin →
    //    removed; the rest identical → unchanged), so the operator sees
    //    all four statuses; digest-projected full-outer join, text
    //    never shuffles ──
    "q113_corpus_diff" -> QueryDef(
      (s, d) => {
        val base = Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("text"))
        val b = PipelineQueries.docHash % 5
        val prev = base.filter(b =!= 0)
          .select(col("doc_id"), col("source"),
            when(b === 1, concat(col("text"), lit(" legacy")))
              .otherwise(col("text")).as("text"))
          .unionByName(base.filter(b === 2)
            .select((col("doc_id") + lit(1000000000L)).as("doc_id"),
              col("source"), concat(lit("retired "), col("text")).as("text")))
        corpusDiff(prev, base)
      },
      Some("""WITH base AS (SELECT doc_id, source, text,
             |    (doc_id % 1000000007 * 2654435761) % 1000000007 % 5 AS b
             |  FROM documents),
             |prev AS (
             |  SELECT doc_id, source,
             |    CASE WHEN b = 1 THEN text || ' legacy' ELSE text END AS text
             |  FROM base WHERE b <> 0
             |  UNION ALL
             |  SELECT doc_id + 1000000000, source, 'retired ' || text
             |  FROM base WHERE b = 2),
             |j AS (SELECT COALESCE(c.source, p.source) AS source,
             |        CASE WHEN p.doc_id IS NULL THEN 'added'
             |             WHEN c.doc_id IS NULL THEN 'removed'
             |             WHEN md5(p.text) = md5(c.text) THEN 'unchanged'
             |             ELSE 'changed' END AS status
             |      FROM prev p FULL OUTER JOIN base c ON p.doc_id = c.doc_id)
             |SELECT source, status, COUNT(*) AS n FROM j
             |GROUP BY 1, 2 ORDER BY source, status""".stripMargin)),

    // ── KMV-sketch source-overlap estimates: map-side-combinable ≤k-long
    //    buffers instead of q98's vocabulary-scale distinct shuffle; the
    //    whole estimator (hash → sketch → union slice → coincidence
    //    ratio) re-derived exactly in DuckDB ──
    "q109_kmv_overlap" -> QueryDef(
      (s, d) => kmvOverlap(Tables.documents(s, d)),
      Some(s"""WITH g AS (SELECT source, doc_id,
             |    list_distinct(list_transform(generate_series(1, length(text) - 7),
             |      i -> (${(0 until 8).map(DedupQueries.gramHashSql).mkString(" + ")})
             |           % 1000000007)) AS gs
             |  FROM documents WHERE length(text) >= 8),
             |hv AS (SELECT DISTINCT source, (g * 2654435761) % 1000000007 AS hv
             |       FROM (SELECT source, unnest(gs) AS g FROM g)),
             |r AS (SELECT source, hv,
             |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv) AS rk FROM hv),
             |sk AS (SELECT source, list(hv ORDER BY hv) AS sk
             |       FROM r WHERE rk <= 256 GROUP BY source),
             |p AS (SELECT a.source AS s1, b.source AS s2, a.sk AS ska, b.sk AS skb,
             |        (list_sort(list_distinct(a.sk || b.sk)))[1:256] AS u
             |      FROM sk a JOIN sk b ON a.source < b.source)
             |SELECT s1, s2, len(ska) AS n_kept1, len(skb) AS n_kept2,
             |  len(u) AS n_union_kept,
             |  len(list_intersect(u, list_intersect(ska, skb))) AS n_both,
             |  ROUND(CAST(len(list_intersect(u, list_intersect(ska, skb))) AS DOUBLE)
             |    / len(u), 6) AS jac_est
             |FROM p ORDER BY s1, s2""".stripMargin)),

    // ── cross-source distinct-gram contamination matrix: one gram-keyed
    //    self-join with sources²-bounded fan-out; full construction
    //    re-derived in DuckDB ──
    "q98_source_overlap" -> QueryDef(
      (s, d) => sourceOverlap(Tables.documents(s, d)),
      Some(s"""WITH g AS (SELECT source, doc_id,
             |    list_distinct(list_transform(generate_series(1, length(text) - 7),
             |      i -> (${(0 until 8).map(DedupQueries.gramHashSql).mkString(" + ")})
             |           % 1000000007)) AS gs
             |  FROM documents WHERE length(text) >= 8),
             |sg AS (SELECT DISTINCT source, g FROM
             |       (SELECT source, unnest(gs) AS g FROM g)),
             |sz AS (SELECT source, COUNT(*) AS n FROM sg GROUP BY source)
             |SELECT a.source AS s1, b.source AS s2,
             |  MAX(z1.n) AS n1, MAX(z2.n) AS n2, COUNT(*) AS n_shared,
             |  CAST(COUNT(*) AS DOUBLE) / (MAX(z1.n) + MAX(z2.n) - COUNT(*))
             |    AS jac
             |FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
             |  JOIN sz z1 ON z1.source = a.source
             |  JOIN sz z2 ON z2.source = b.source
             |GROUP BY 1, 2 ORDER BY s1, s2""".stripMargin)),

    // ── per-source token-count quartiles + Tukey-fence outlier counts:
    //    radix-refinement selection at two ranks; oracle is the
    //    row_number ranking twin (the q75 pattern, composed) ──
    "q97_length_fences" -> QueryDef(
      (s, d) => lengthOutlierFences(Tables.documents(s, d)),
      Some("""WITH d AS (SELECT doc_id, source,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
             |  FROM documents),
             |r AS (SELECT source, n_tokens,
             |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_tokens) AS rk,
             |    COUNT(*) OVER (PARTITION BY source) AS n FROM d),
             |q AS (SELECT source,
             |    MAX(CASE WHEN rk = (n + 3) // 4 THEN n_tokens END) AS q1,
             |    MAX(CASE WHEN rk = (3 * n + 3) // 4 THEN n_tokens END) AS q3
             |  FROM r GROUP BY source)
             |SELECT d.source, MAX(q.q1) AS q1, MAX(q.q3) AS q3,
             |  CAST(SUM(CASE WHEN d.n_tokens * 2 < q.q1 * 2 - (q.q3 - q.q1) * 3
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_low_outliers,
             |  CAST(SUM(CASE WHEN d.n_tokens * 2 > q.q3 * 2 + (q.q3 - q.q1) * 3
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_high_outliers
             |FROM d JOIN q USING (source)
             |GROUP BY d.source ORDER BY source""".stripMargin)),

    // ── per-source distinctive terms (df ≥ 5, top-10-with-ties by
    //    concentration score): windowless k-th-largest via radix
    //    selection; oracle derives the same multiset rank via a value-
    //    ordered row_number (ties don't move the value at a rank) ──
    "q107_distinctive_terms" -> QueryDef(
      (s, d) => distinctiveTerms(Tables.documents(s, d)),
      Some("""WITH t AS (SELECT doc_id, source,
             |    unnest(string_split(text, ' ')) AS token FROM documents),
             |d AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY 1),
             |c AS (SELECT token, COUNT(*) AS ctf FROM t GROUP BY 1),
             |s AS (SELECT source, token, COUNT(*) AS tf FROM t GROUP BY 1, 2),
             |sc AS (SELECT s.source, s.token, s.tf, d.df,
             |    (s.tf * 1000000) // c.ctf AS score
             |  FROM s JOIN c USING (token) JOIN d USING (token)
             |  WHERE d.df >= 5),
             |r AS (SELECT source, score, ROW_NUMBER() OVER (
             |        PARTITION BY source ORDER BY score) AS rk,
             |      COUNT(*) OVER (PARTITION BY source) AS n FROM sc),
             |k AS (SELECT source, MAX(CASE WHEN rk = GREATEST(n - 9, CAST(1 AS BIGINT))
             |        THEN score END) AS vk FROM r GROUP BY source)
             |SELECT sc.source, sc.token, sc.tf, sc.df, sc.score
             |FROM sc JOIN k USING (source) WHERE sc.score >= k.vk
             |ORDER BY source, token""".stripMargin)),

    // ── per-source heavy hitters at frequency ≥ 1/500: MG candidates +
    //    exact verify; oracle recomputes the exact answer directly ──
    "q77_heavy_hitters" -> QueryDef(
      (s, d) => heavyHitters(Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("token"))),
      Some("""WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS token
             |          FROM documents),
             |tot AS (SELECT source, count(*) AS m FROM t GROUP BY source),
             |c AS (SELECT source, token, count(*) AS cnt FROM t GROUP BY 1, 2)
             |SELECT c.source, c.token, c.cnt
             |FROM c JOIN tot USING (source)
             |WHERE c.cnt * 500 >= tot.m
             |ORDER BY source, token""".stripMargin)),

    // ── deterministic weighted sample: 20 docs per source by integer
    //    priority (w·10¹²) div h — the full construction re-derived in
    //    DuckDB, row_number as the TopK twin ──
    "q78_priority_sample" -> QueryDef(
      (s, d) => prioritySample(Tables.documents(s, d)),
      Some("""WITH d AS (SELECT source, doc_id,
             |    LEAST(CAST(len(string_split(text, ' ')) AS BIGINT), 1000000) AS w,
             |    (doc_id % 1000000007 * 2654435761 + 12345) % 1000000007 + 1 AS h
             |  FROM documents),
             |p AS (SELECT source, doc_id, (w * 1000000000000) // h AS prio,
             |    ROW_NUMBER() OVER (PARTITION BY source
             |      ORDER BY (w * 1000000000000) // h DESC, doc_id) AS rn
             |  FROM d)
             |SELECT source, doc_id, prio FROM p WHERE rn <= 20
             |ORDER BY source, doc_id""".stripMargin)),

    // ── dedup-group-keyed train/test split over q57's near-dup
    //    components (t=0.5): near-dups can never straddle the split;
    //    oracle re-derives components via the recursive CTE and applies
    //    the same integer component hash ──
    "q81_leakage_safe_split" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        // shared with q57: the identical t=0.5 edges (tiered from the
        // q96/q99 base) AND the identical component assignment (r11)
        leakageSafeSplitOn(
          DedupQueries.tokenEdgeComponentsShared(docs, threshold = 0.5),
          testPerMille = 100)
      },
      Some(s"""WITH RECURSIVE ${PipelineQueries.jaccardPairsCte(0.5)},
             |edges AS (SELECT id1 AS u, id2 AS v FROM pairs
             |          UNION ALL SELECT id2, id1 FROM pairs),
             |reach AS (
             |  SELECT doc_id AS id, doc_id AS comp FROM documents
             |  UNION
             |  SELECT e.v AS id, r.comp FROM reach r JOIN edges e ON e.u = r.id
             |  WHERE r.comp < e.v),
             |comps AS (SELECT id AS doc_id, MIN(comp) AS component
             |          FROM reach GROUP BY id)
             |SELECT doc_id, component,
             |  CASE WHEN (component % 1000000007 * 2654435761 + 99991)
             |            % 1000000007 % 1000 < 100
             |       THEN 'test' ELSE 'train' END AS split
             |FROM comps ORDER BY doc_id""".stripMargin)),

    // ── incoming batch (src0) screened against the existing corpus
    //    (every other source — the BIG side, as production runs it):
    //    exact-dup flag + near-dup match counts vs existing and vs the
    //    batch itself, via the probe-only asymmetric shape (the corpus
    //    side's pair volume is never generated); oracle re-derives
    //    everything with direct Jaccard joins ──
    "q80_incremental_dedup" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        incrementalDedup(docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"))
      },
      Some("""WITH e AS (SELECT doc_id, text, list_distinct(string_split(text, ' ')) AS t
             |          FROM documents WHERE source <> 'src0'),
             |i AS (SELECT doc_id, text, list_distinct(string_split(text, ' ')) AS t
             |      FROM documents WHERE source = 'src0'),
             |xm AS (SELECT i.doc_id, count(*) AS n FROM i JOIN e
             |       ON CAST(len(list_intersect(i.t, e.t)) AS DOUBLE)
             |          / len(list_distinct(i.t || e.t)) >= 0.8
             |       GROUP BY i.doc_id),
             |bm AS (SELECT x.doc_id, count(*) AS n FROM i x JOIN i y
             |       ON x.doc_id <> y.doc_id
             |      AND CAST(len(list_intersect(x.t, y.t)) AS DOUBLE)
             |          / len(list_distinct(x.t || y.t)) >= 0.8
             |       GROUP BY x.doc_id),
             |em AS (SELECT DISTINCT i.doc_id FROM i JOIN e ON i.text = e.text)
             |SELECT i.doc_id,
             |  CAST(coalesce(xm.n, 0) AS BIGINT) AS n_exist_matches,
             |  CAST(coalesce(bm.n, 0) AS BIGINT) AS n_batch_matches,
             |  CAST(CASE WHEN em.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
             |    AS is_exact_dup
             |FROM i LEFT JOIN xm USING (doc_id) LEFT JOIN bm USING (doc_id)
             |  LEFT JOIN em USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // ── per-doc novelty vs everything ingested before it (by doc_id
    //    order); gram fingerprints are the cross-engine polynomial ──
    "q79_gram_novelty" -> QueryDef(
      (s, d) => gramNovelty(Tables.documents(s, d)),
      Some(s"""WITH g AS (SELECT doc_id,
             |    list_distinct(list_transform(generate_series(1, length(text) - 7),
             |      i -> (${(0 until 8).map(DedupQueries.gramHashSql).mkString(" + ")})
             |           % 1000000007)) AS gs
             |  FROM documents WHERE length(text) >= 8),
             |e AS (SELECT doc_id, unnest(gs) AS g FROM g),
             |f AS (SELECT g, min(doc_id) AS first_id FROM e GROUP BY g)
             |SELECT e.doc_id, count(*) AS n_grams,
             |  CAST(sum(CASE WHEN f.first_id < e.doc_id THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_stale,
             |  round(1 - CAST(sum(CASE WHEN f.first_id < e.doc_id THEN 1 ELSE 0 END)
             |    AS DOUBLE) / count(*), 6) AS novelty
             |FROM e JOIN f USING (g)
             |GROUP BY e.doc_id ORDER BY doc_id""".stripMargin)),

    // ── BM25 top-k lexical retrieval: integer-scaled scoring (exact
    //    rationals, no ln/float), broadcast query set over the inverted
    //    index, bounded TopK; full construction re-derived in DuckDB
    //    with HUGEINT intermediates and a row_number top-k twin ──
    "q126_bm25_topk" -> QueryDef(
      (s, d) => bm25TopK(Tables.documents(s, d)),
      Some(s"""WITH $bm25RankedCtes
             |SELECT query_id, rk AS rank, doc_id, score FROM lexr
             |WHERE rk <= 5 ORDER BY query_id, rank""".stripMargin)),

    // ── q126 with the absolute stopword prune ON at the DATA-DERIVED
    //    factor (r9 stretch #8): dfPruneFactorFor(N) = max(2, ceil(N /
    //    4096)) — posting lists capped at 4096 at any corpus size,
    //    degrading to the df > N/2 rule on small corpora. The oracle
    //    re-derives the factor from its own tot CTE (pf), so the rule —
    //    not a literal — is what the gate certifies, at every SF. On
    //    this corpus's closed 31-token vocabulary the derived factor is
    //    2 (N ≤ 4096), pruning the majority-df head; queries whose docs
    //    lack a surviving term drop out (the defined partial-signal
    //    semantics) ──
    "q129_bm25_pruned" -> QueryDef(
      (s, d) => bm25TopK(Tables.documents(s, d), dfPruneFactor = DerivedPrune),
      Some(s"""WITH ${bm25RankedCtes(DerivedPrune)}
             |SELECT query_id, rk AS rank, doc_id, score FROM lexr
             |WHERE rk <= 5 ORDER BY query_id, rank""".stripMargin)),

    // ── PROBE-ONLY BM25 (r10 verdict task #3 — the q130 discipline
    //    for retrieval): score the q129 query batch against a
    //    PERSISTED index (DocStream.initBm25Store writes the streamed
    //    store layout once per corpus snapshot — idempotent, keyed by
    //    corpus identity; loadBm25Index reads it back), so the
    //    per-run cost is the batch's own posting volume — broadcast
    //    term set over token-clustered postings — never a corpus
    //    rebuild. q126/q129 stay registered as the build faces.
    //    Results are identical to q129 by construction (the persisted
    //    relations ARE buildBm25Index's, spec-pinned), so the oracle
    //    is q129's verbatim: the DuckDB gate certifies that probing
    //    the store loses nothing vs rebuilding. ──
    "q138_bm25_probe" -> QueryDef(
      (s, d) => {
        val store = graft.streaming.DocStream.initBm25Store(s, d)
        val index = graft.streaming.DocStream.loadBm25Index(s, store)
        // same dimension-sized totals read as bm25TopK's derived knob
        val factor = dfPruneFactorFor(
          index.totals.select(col("n_docs")).head().getLong(0))
        val qdocs = Tables.documents(s, d).filter(col("doc_id") % 29 === 0)
        bm25ScoreIndexed(index,
          bm25QueryTerms(index, qdocs, dfPruneFactor = factor), k = 5)
      },
      Some(s"""WITH ${bm25RankedCtes(DerivedPrune)}
             |SELECT query_id, rk AS rank, doc_id, score FROM lexr
             |WHERE rk <= 5 ORDER BY query_id, rank""".stripMargin))
  )

  /** The q126 BM25 construction as a DuckDB CTE chain ending in `lexr`
    * (query_id, doc_id, score, rk) — shared verbatim by the q127 hybrid
    * fusion oracle so a scoring-semantics fix reaches both (the
    * kNN-family factoring precedent, AnnQueries). */
  private[operators] def bm25RankedCtes: String = bm25RankedCtes(0L)

  /** [[bm25RankedCtes]] with the [[bm25QueryTerms]] stopword prune
    * mirrored in SQL (factor ≤ 0 = off, yielding the registered q126
    * text verbatim). The pruned branch is REGISTERED as q129 (factor
    * 10, the classic absolute stopword rule), so the DuckDB gate
    * exercises the prune clause end to end; Bm25Spec additionally pins
    * the Spark-side cut on an open-vocabulary fixture. */
  private[operators] def bm25RankedCtes(dfPruneFactor: Long): String = {
    // DerivedPrune mirrors dfPruneFactorFor in SQL: the factor comes
    // from the corpus's own doc count (pf), not a literal
    val pfCte =
      if (dfPruneFactor != DerivedPrune) ""
      else "pf AS (SELECT GREATEST(2, (n_docs + 4095) // 4096) AS f FROM tot),\n"
    val prune =
      if (dfPruneFactor == DerivedPrune)
        ", tot, pf WHERE df.df * pf.f <= tot.n_docs"
      else if (dfPruneFactor <= 0) ""
      else s", tot WHERE df.df * $dfPruneFactor <= tot.n_docs"
    s"""t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |          FROM documents),
      |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM t GROUP BY 1, 2),
      |dl AS (SELECT doc_id, COUNT(*) AS dl FROM t GROUP BY 1),
      |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
      |tot AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS s_tokens FROM dl),
      |${pfCte}qc AS (SELECT doc_id AS query_id,
      |         unnest(list_distinct(string_split(text, ' '))) AS token
      |       FROM documents WHERE doc_id % 29 = 0),
      |qp AS (SELECT qc.query_id, qc.token, df.df FROM qc
      |         JOIN df USING (token)$prune),
      |qt AS (SELECT query_id,
      |         unnest(list(token ORDER BY df, token)[1:4]) AS token
      |       FROM qp GROUP BY query_id),
      |sc AS (SELECT q.query_id, tf.doc_id,
      |         SUM((CAST((2 * (tot.n_docs - df.df) + 1) * 1000000
      |                   // (2 * df.df + 1) AS HUGEINT)
      |              * (22 * CAST(tot.s_tokens AS HUGEINT) * tf.tf))
      |             // (10 * CAST(tot.s_tokens AS HUGEINT) * tf.tf
      |                + 3 * CAST(tot.s_tokens AS HUGEINT)
      |                + 9 * CAST(tot.n_docs AS HUGEINT) * dl.dl)) AS score
      |       FROM qt q JOIN tf USING (token)
      |         JOIN df USING (token)
      |         JOIN dl ON dl.doc_id = tf.doc_id, tot
      |       WHERE tf.doc_id <> q.query_id
      |       GROUP BY 1, 2),
      |lexr AS (SELECT query_id, doc_id, CAST(score AS BIGINT) AS score,
      |        ROW_NUMBER() OVER (PARTITION BY query_id
      |          ORDER BY score DESC, doc_id) AS rk FROM sc)""".stripMargin
  }
}
