package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import QueryDef.OrderedResultOps

/** Training-data-pipeline battery #2: deduplication (exact was q22;
  * here MinHash-LSH, SimHash, n-gram Jaccard), similarity search,
  * as-of joins, text analysis (language-ID, fingerprinting, quality,
  * tokenization). All hot-path logic is native Catalyst expressions
  * (split / transform / aggregate / zip_with / xxhash64) — no Scala UDFs,
  * so everything stays inside whole-stage codegen.
  *
  * Oracle notes: queries whose semantics are exactly expressible in
  * DuckDB SQL carry an oracle; MinHash/SimHash use Spark's xxhash64
  * (not reproducible in DuckDB) and are verified by planted-duplicate
  * ScalaTest specs instead (DedupSpec).
  */
object DedupQueries {

  private def tokens(c: Column): Column = split(c, " ")

  /** Polynomial 31-base hash of the 8-gram starting at 1-based position i —
    * identical arithmetic on both engines (all-BIGINT, mod 1e9+7). Shared
    * with PipelineQueries' decontamination join (q61). */
  private[operators] def gramHash(text: Column, i: Column): Column = {
    val terms = (0 until 8).map { k =>
      ascii(text.substr(i + lit(k), lit(1))).cast("long") * lit(math.pow(31, k).toLong)
    }
    terms.reduce(_ + _) % lit(1000000007L)
  }

  private[operators] def gramHashSql(k: Int): String =
    s"ascii(substr(text,i+$k,1))*CAST(${math.pow(31, k).toLong} AS BIGINT)"

  /** +1 when bit j of the hash is set, else -1 (SimHash vote). */
  private def bitSign(h: Column, j: Int): Column =
    when(shiftright(h, j).bitwiseAND(1) === 1, 1L).otherwise(-1L)

  val registry: Map[String, QueryDef] = Map(

    // ── J9/J10-style as-of join: latest order at each event's as-of date ──
    "q28_asof_join" -> QueryDef(
      (s, d) => {
        val req = Tables.events(s, d).select(col("event_id"), col("user_id"),
          date_add(to_date(lit("1995-01-01")), (col("event_id") % 2400).cast("int")).as("as_of"))
        val o = Tables.orders(s, d).select(col("o_custkey"),
          col("o_orderkey"), col("o_orderdate"))
        val w = Window.partitionBy(col("event_id"))
          .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
        req.join(o, col("o_custkey") === col("user_id") &&
            to_date(col("o_orderdate")) <= col("as_of"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("event_id"), col("o_orderkey"))
          .orderBy(col("event_id"))
      },
      Some("""WITH req AS (SELECT event_id, user_id,
             |    DATE '1995-01-01' + INTERVAL (event_id % 2400) DAY AS as_of FROM events),
             |j AS (SELECT event_id, o_orderkey, ROW_NUMBER() OVER (PARTITION BY event_id
             |        ORDER BY o_orderdate DESC, o_orderkey DESC) rn
             |      FROM req JOIN orders ON o_custkey = user_id
             |        AND CAST(o_orderdate AS DATE) <= CAST(as_of AS DATE))
             |SELECT event_id, o_orderkey FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin)),

    // ── n-gram (token-set) Jaccard near-dup, source-grouped all-pairs
    //    through the TRIANGLE-BLOCKED self-join cover ([[Blocking]]):
    //    a plain source-keyed self-join parallelizes only by #sources
    //    (five tasks forever, each block-quadratic); blocking spreads the
    //    same pairs over sources × B(B+1)/2 tasks. Output identical
    //    (spec-pinned vs the plain join), oracle unchanged. ──
    "q29_jaccard_pairs" -> QueryDef(
      (s, d) => tokenJaccardBlocked(Tables.documents(s, d)),
      Some("""WITH toks AS (SELECT doc_id, source,
             |    list_distinct(string_split(text, ' ')) AS t FROM documents)
             |SELECT a.doc_id AS id1, b.doc_id AS id2,
             |  CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
             |    / len(list_distinct(a.t || b.t)) AS jac
             |FROM toks a JOIN toks b ON a.source = b.source AND a.doc_id < b.doc_id
             |WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
             |    / len(list_distinct(a.t || b.t)) >= 0.4
             |ORDER BY id1, id2""".stripMargin)),

    // ── char-shingle Jaccard (dedup variant: catches near-dups that
    //    tokenization misses — reordered words, punctuation edits). 3-char
    //    shingles sampled at stride 8, exactly reproducible in the DuckDB
    //    oracle (no hashing). Registry entry runs the prefix-filtered
    //    set-similarity join ([[charShinglePrefixJoin]]) — the shape that
    //    survives corpus scale; the all-pairs twin is kept as
    //    [[charShingleAllPairs]] and pinned equal by DedupSpec. ──
    "q48_charshingle_jaccard" -> QueryDef(
      (s, d) => charShinglePrefixJoin(Tables.documents(s, d)),
      Some("""WITH sh AS (SELECT doc_id, source,
             |    list_distinct([text[i:i+2]
             |      for i in range(1, greatest(length(text)-1, 2), 8)]) AS s
             |  FROM documents)
             |SELECT a.doc_id AS id1, b.doc_id AS id2,
             |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             |    / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jac
             |FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
             |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             |    / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
             |ORDER BY id1, id2""".stripMargin)),

    // ── same semantics, inverted-index shape: token-level join computes
    //    intersections without materializing token arrays per pair — the
    //    formulation that scales when pairs*tokens outgrows pairs sharing
    //    tokens. Identical output, identical oracle as q29. Posting lists
    //    of hot tokens (≥4096 docs) route through the salted scatter join
    //    (see [[invertedJaccardJoin]]) so no single task walls on a
    //    quadratic fan-out — the r6-verdict fix. ──
    "q44_jaccard_inverted" -> QueryDef(
      (s, d) => invertedJaccardJoin(Tables.documents(s, d)),
      Some("""WITH toks AS (SELECT doc_id, source,
             |    list_distinct(string_split(text, ' ')) AS t FROM documents)
             |SELECT a.doc_id AS id1, b.doc_id AS id2,
             |  CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
             |    / len(list_distinct(a.t || b.t)) AS jac
             |FROM toks a JOIN toks b ON a.source = b.source AND a.doc_id < b.doc_id
             |WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
             |    / len(list_distinct(a.t || b.t)) >= 0.4
             |ORDER BY id1, id2""".stripMargin)),

    // ── third formulation of token-Jaccard semantics: exact
    //    prefix-filtered set-similarity join (see charShinglePrefixJoin).
    //    Run at t=0.5, the regime the filter is FOR — prefix length is
    //    (1-t)*n+1, so low thresholds index most of each doc and
    //    degenerate toward the plain inverted join (measured: t=0.4 cost
    //    9.3 s vs 5.2 s at t=0.5 on the same corpus). DedupSpec pins the
    //    formulation equal to q29/q44 at their own t=0.4. ──
    "q56_jaccard_prefix" -> QueryDef(
      (s, d) => tokenPrefixJoin(Tables.documents(s, d), threshold = 0.5),
      Some("""WITH toks AS (SELECT doc_id, source,
             |    list_distinct(string_split(text, ' ')) AS t FROM documents)
             |SELECT a.doc_id AS id1, b.doc_id AS id2,
             |  CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
             |    / len(list_distinct(a.t || b.t)) AS jac
             |FROM toks a JOIN toks b ON a.source = b.source AND a.doc_id < b.doc_id
             |WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
             |    / len(list_distinct(a.t || b.t)) >= 0.5
             |ORDER BY id1, id2""".stripMargin)),

    // ── WEIGHTED (multiset/TF) Jaccard near-dup pairs: the q44 guarded
    //    inverted-index shape carrying per-(doc, token) TF; Σmin via
    //    map-side-combinable pair aggregation, Σmax = totals − Σmin ──
    "q112_weighted_jaccard" -> QueryDef(
      (s, d) => weightedJaccardJoin(Tables.documents(s, d)),
      Some("""WITH tf AS (SELECT doc_id, source, token, COUNT(*) AS tf FROM
             |    (SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
             |     FROM documents)
             |  GROUP BY 1, 2, 3),
             |tot AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS tot FROM tf GROUP BY 1),
             |co AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
             |         CAST(SUM(LEAST(a.tf, b.tf)) AS BIGINT) AS minsum
             |       FROM tf a JOIN tf b ON a.source = b.source
             |         AND a.token = b.token AND a.doc_id < b.doc_id
             |       GROUP BY 1, 2)
             |SELECT id1, id2,
             |  CAST(minsum AS DOUBLE) / (t1.tot + t2.tot - minsum) AS wjac
             |FROM co JOIN tot t1 ON t1.doc_id = id1
             |        JOIN tot t2 ON t2.doc_id = id2
             |WHERE CAST(minsum AS DOUBLE) / (t1.tot + t2.tot - minsum) >= 0.4
             |ORDER BY id1, id2""".stripMargin)),

    // ── directed containment pairs: Σmin/|sub| ≥ 0.8 — quotes/excerpts/
    //    supersets that weighted Jaccard under-scores; both directions
    //    from ONE unordered pair-stats relation ──
    "q117_containment" -> QueryDef(
      (s, d) => containmentJoin(Tables.documents(s, d)),
      Some("""WITH tf AS (SELECT doc_id, source, token, COUNT(*) AS tf FROM
             |    (SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
             |     FROM documents)
             |  GROUP BY 1, 2, 3),
             |tot AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS tot FROM tf GROUP BY 1),
             |co AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
             |         CAST(SUM(LEAST(a.tf, b.tf)) AS BIGINT) AS minsum
             |       FROM tf a JOIN tf b ON a.source = b.source
             |         AND a.token = b.token AND a.doc_id < b.doc_id
             |       GROUP BY 1, 2),
             |dir AS (
             |  SELECT id1 AS id_sub, id2 AS id_sup,
             |    CAST(minsum AS DOUBLE) / t1.tot AS containment
             |  FROM co JOIN tot t1 ON t1.doc_id = id1
             |  UNION ALL
             |  SELECT id2, id1, CAST(minsum AS DOUBLE) / t2.tot
             |  FROM co JOIN tot t2 ON t2.doc_id = id2)
             |SELECT id_sub, id_sup, containment FROM dir
             |WHERE containment >= 0.8
             |ORDER BY id_sub, id_sup""".stripMargin)),

    // ── per-doc top-3 similar neighbors, integer-scaled weighted
    //    Jaccard (the dedup review relation); bounded TopK per doc,
    //    no rank window over the pair relation ──
    "q124_top_similar" -> QueryDef(
      (s, d) => topSimilarPerDoc(Tables.documents(s, d)),
      Some("""WITH tf AS (SELECT doc_id, source, token, COUNT(*) AS tf FROM
             |    (SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
             |     FROM documents)
             |  GROUP BY 1, 2, 3),
             |tot AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS tot FROM tf GROUP BY 1),
             |co AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
             |         CAST(SUM(LEAST(a.tf, b.tf)) AS BIGINT) AS minsum
             |       FROM tf a JOIN tf b ON a.source = b.source
             |         AND a.token = b.token AND a.doc_id < b.doc_id
             |       GROUP BY 1, 2),
             |sc AS (SELECT id1, id2,
             |         minsum * 1000000000 // (t1.tot + t2.tot - minsum) AS ws
             |       FROM co JOIN tot t1 ON t1.doc_id = id1
             |               JOIN tot t2 ON t2.doc_id = id2
             |       WHERE minsum * 1000000000 // (t1.tot + t2.tot - minsum)
             |             >= 100000000),
             |dir AS (SELECT id1 AS doc_id, id2 AS neighbor, ws FROM sc
             |        UNION ALL SELECT id2, id1, ws FROM sc),
             |r AS (SELECT doc_id, neighbor, ws, ROW_NUMBER() OVER (
             |        PARTITION BY doc_id ORDER BY ws DESC, neighbor) AS rank
             |      FROM dir)
             |SELECT doc_id, rank, neighbor, CAST(ws AS BIGINT) AS wjac_scaled
             |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)),

    // ── MinHash + LSH banding near-dup candidates (xxhash64 — no oracle;
    //    verified by planted duplicates in DedupSpec) ──
    "q30_minhash_lsh" -> QueryDef(
      (s, d) => minhashCandidates(Tables.documents(s, d)), None),

    // ── the SAME shingle→minhash→band→bucket-join pipeline over a
    //    PORTABLE hash family, so the whole LSH construction is
    //    oracle-checked end to end (q30's xxhash64 signatures are
    //    Spark-internal; here signatures are min over 16 affine
    //    permutations (aₖ·g + bₖ) mod p of the polynomial 8-gram
    //    fingerprints, and a band's bucket key is the raw 4-tuple of
    //    signatures instead of a re-hash — everything DuckDB reproduces
    //    bit-for-bit). Same explode + 16 codegen'd min() layout and the
    //    same banded self-join shape as q30. ──
    "q66_minhash_portable" -> QueryDef(
      (s, d) => minhashPortable(Tables.documents(s, d)),
      Some(minhashPortableOracleSql)),

    // ── SimHash near-dup candidates, 16-bit-band blocking + hamming cut ──
    "q31_simhash" -> QueryDef(
      (s, d) => simhashCandidates(Tables.documents(s, d)), None),

    // ── the SAME vote→signature→band→bucket-join SimHash pipeline over a
    //    PORTABLE bit family, so the whole construction is oracle-checked
    //    end to end (q31's xxhash64 bit votes are Spark-internal; here bit
    //    j of gram g is parity of the affine permutation (aⱼ·g + bⱼ) mod p
    //    over the polynomial 8-gram fingerprints — exact BIGINT both
    //    engines). Same 64 codegen'd sum() votes, same 4×16-bit banding,
    //    same hamming ≤ 16 cut as q31. ──
    "q70_simhash_portable" -> QueryDef(
      (s, d) => simhashPortable(Tables.documents(s, d)),
      Some(simhashPortableOracleSql)),

    // ── language-ID: per-lang top-10 token profiles, argmax classification ──
    "q32_lang_id" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val tok = docs.select(col("doc_id"), col("lang"),
          explode(tokens(col("text"))).as("token"))
        val freq = tok.groupBy(col("lang"), col("token")).agg(count(lit(1)).as("n"))
        val prof = freq
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("lang")).orderBy(col("n").desc, col("token"))))
          .filter(col("rn") <= 10)
          .select(col("lang").as("profile_lang"), col("token"))
        val hits = tok.join(broadcast(prof), Seq("token"))
          .groupBy(col("doc_id"), col("profile_lang")).agg(count(lit(1)).as("n"))
        val best = hits
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("doc_id")).orderBy(col("n").desc, col("profile_lang"))))
          .filter(col("rn") === 1)
        best.join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
          .groupBy(col("profile_lang").as("pred"), col("lang").as("actual"))
          .agg(count(lit(1)).as("n"))
          .orderedResult(col("pred"), col("actual"))
      },
      Some("""WITH tok AS (SELECT doc_id, lang, unnest(string_split(text,' ')) AS token
             |            FROM documents),
             |freq AS (SELECT lang, token, COUNT(*) n FROM tok GROUP BY 1, 2),
             |prof AS (SELECT lang AS profile_lang, token FROM (
             |    SELECT lang, token, ROW_NUMBER() OVER (PARTITION BY lang
             |      ORDER BY n DESC, token) rn FROM freq) WHERE rn <= 10),
             |hits AS (SELECT t.doc_id, p.profile_lang, COUNT(*) n
             |         FROM tok t JOIN prof p USING (token) GROUP BY 1, 2),
             |best AS (SELECT doc_id, profile_lang, ROW_NUMBER() OVER (
             |    PARTITION BY doc_id ORDER BY n DESC, profile_lang) rn FROM hits)
             |SELECT b.profile_lang AS pred, d.lang AS actual, COUNT(*) AS n
             |FROM best b JOIN documents d USING (doc_id) WHERE rn = 1
             |GROUP BY 1, 2 ORDER BY pred, actual""".stripMargin)),

    // ── rolling-hash document fingerprint: min polynomial 8-gram hash
    //    (native GramHashArray: one compiled loop per row, not an
    //    interpreted per-window lambda) ──
    "q33_fingerprint" -> QueryDef(
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          array_min(graft.functions.GramHashArray(col("text"))).as("fp"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id,
              |  list_min(list_transform(generate_series(1, length(text)-7),
              |    i -> (${(0 until 8).map(gramHashSql).mkString(" + ")})
              |         % 1000000007)) AS fp
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // ── quality scoring: stopword ratio + length signals ──
    "q34_quality_score" -> QueryDef(
      (s, d) => {
        val stop = Seq("the", "data", "row", "scan", "join", "query")
        val t = tokens(col("text"))
        val nTok = size(t).cast("double")
        val stopRatio = size(filter(t, x => x.isInCollection(stop))).cast("double") / nTok
        val avgLen = (length(col("text")) - size(t) + 1).cast("double") / nTok
        Tables.documents(s, d)
          .select(col("doc_id"), stopRatio.as("stop_ratio"), avgLen.as("avg_token_len"),
            (stopRatio * 0.5 + least(nTok / 100.0, lit(1.0)) * 0.5).as("quality"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  CAST(len(list_filter(string_split(text,' '),
             |      t -> t IN ('the','data','row','scan','join','query'))) AS DOUBLE)
             |    / len(string_split(text,' ')) AS stop_ratio,
             |  CAST(length(text) - len(string_split(text,' ')) + 1 AS DOUBLE)
             |    / len(string_split(text,' ')) AS avg_token_len,
             |  CAST(len(list_filter(string_split(text,' '),
             |      t -> t IN ('the','data','row','scan','join','query'))) AS DOUBLE)
             |    / len(string_split(text,' ')) * 0.5
             |    + LEAST(len(string_split(text,' ')) / 100.0, 1.0) * 0.5 AS quality
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ── embedding-cosine near-dup pairs, label-blocked ──
    "q35_embed_neardup" -> QueryDef(
      (s, d) => embedNearDupPairs(Tables.embeddings(s, d))
        .orderedResult(col("id1"), col("id2")),
      Some("""SELECT a.vec_id AS id1, b.vec_id AS id2,
             |  ROUND(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
             |    / (SQRT(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
             |     * SQRT(list_inner_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6) AS cos_sim
             |FROM embeddings a JOIN embeddings b
             |  ON a.label = b.label AND a.vec_id < b.vec_id
             |WHERE list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
             |    / (SQRT(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
             |     * SQRT(list_inner_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) > 0.3
             |ORDER BY id1, id2""".stripMargin)),

    // ── BPE-ish regex tokenizer: letter runs / digit runs / other symbols ──
    "q36_tokenizer" -> QueryDef(
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
            .cast("long").as("n_bpe_tokens"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id, CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
             |    AS BIGINT) AS n_bpe_tokens
             |FROM documents ORDER BY doc_id""".stripMargin))
  )

  /** MinHash signatures (16 permutations via seeded xxhash64 over word
    * 3-shingles), banded 4x4 for LSH; the standard shingle -> minhash ->
    * band -> bucket-join pipeline. Exposed for DedupSpec.
    *
    * Shape note: explode + codegen'd hash-aggregate (16 min()s), NOT a
    * higher-order-function fold — nested HOF lambdas run interpreted and
    * were ~5x slower; 16 simple min aggregates stay in whole-stage codegen
    * and scale out through a single doc_id shuffle.
    *
    * Skew note: a degenerate corpus (many near-identical documents) funnels
    * a large share of rows into ONE (band, bucket) key, making a single
    * bucket-join task quadratic. Buckets holding >= `heavyBucketThreshold`
    * docs are detected with a cheap count over the banded table (4 rows per
    * doc) and routed through [[Salting.saltedJoin]] — probe side scattered
    * `salt` ways by doc id, build side replicated — bounding any task's
    * probe input to bucket/salt rows; light buckets join plain. The two
    * paths partition the key space, so their union is exactly the plain
    * join's candidate set (spec-pinned). */
  def minhashCandidates(docs: DataFrame,
                        heavyBucketThreshold: Int = 10000,
                        salt: Int = 16): DataFrame = {
    val t = tokens(col("text"))
    val shingles = transform(sequence(lit(0), size(t) - 3),
      i => concat_ws(" ", element_at(t, i + 1), element_at(t, i + 2), element_at(t, i + 3)))
    // pre-hash each shingle STRING once; the 16 signature permutations
    // re-hash the resulting long (cheap fixed-width input) — measured 66 s
    // -> 42 s on a 100k-doc corpus vs seeding the string hash 16 times
    // (PERF.md near-dup battery throughput; the remainder is the inherent
    // pair materialization)
    val sigs = docs
      .filter(size(t) >= 3)
      .select(col("doc_id"), explode(shingles).as("sh"))
      .select(col("doc_id"), xxhash64(col("sh")).as("h"))
      .groupBy("doc_id")
      .agg(min(xxhash64(col("h"), lit(0))).as("sig0"),
        (1 until 16).map(k => min(xxhash64(col("h"), lit(k))).as(s"sig$k")): _*)
    val bands = (0 until 4).map(b =>
      struct(lit(b).as("band"),
        xxhash64((b * 4 until b * 4 + 4).map(k => col(s"sig$k")): _*).as("bucket")))
    val banded = sigs
      .select(col("doc_id"), explode(array(bands: _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.bucket").as("bucket"))
    // heavy-hitter buckets are few by definition: broadcastable key list
    val heavy = banded.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= heavyBucketThreshold)
      .select(col("band"), col("bucket"), lit(true).as("__heavy"))
    val flagged = banded.join(broadcast(heavy), Seq("band", "bucket"), "left")
    def side(alias: String, heavyOnly: Boolean) = {
      val base = if (heavyOnly) flagged.filter(col("__heavy").isNotNull)
                 else flagged.filter(col("__heavy").isNull)
      base.select(col("band"), col("bucket"), col("doc_id").as(alias))
    }
    val lightPairs = side("id1", heavyOnly = false)
      .join(side("id2", heavyOnly = false), Seq("band", "bucket"))
    val heavyPairs = Salting.saltedJoin(
      side("id1", heavyOnly = true), side("id2", heavyOnly = true),
      Seq("band", "bucket"), scatterCols = Seq(col("id1")), salt = salt)
    lightPairs.unionByName(heavyPairs)
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2")).distinct()
      .orderedResult(col("id1"), col("id2"))
  }

  /** Embedding-cosine near-dup pairs within `label` blocks (q35; also the
    * edge relation of q67's semantic duplicate groups): unordered
    * (id1 < id2, cos_sim rounded to 6). Norms are computed once per row
    * BEFORE the self-join — the join multiplies rows, so per-pair norm
    * recomputation would cost O(pairs·dim) instead of O(rows·dim).
    * Triangle-blocked ([[Blocking]]): a label-keyed self-join would cap
    * parallelism at #labels; blocking spreads each label's pairs over
    * B(B+1)/2 tasks. Cosine is symmetric, so cross-bucket id order is
    * canonicalized at the end. */
  def embedNearDupPairs(embeddings: DataFrame,
                        threshold: Double = 0.3,
                        blocks: Int = 8): DataFrame = {
    def dot(x: Column, y: Column) = graft.functions.VecDot(x, y)
    val e = embeddings
      .select(col("label"), col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
    val (lft, rgt) = Blocking.triangleSides(e, col("vec_id"), blocks)
    val a = lft.select(col("label"), col("__bi"), col("__bj"),
      col("vec_id").as("ida"), col("v").as("va"), col("norm").as("na"))
    val b = rgt.select(col("label"), col("__bi"), col("__bj"),
      col("vec_id").as("idb"), col("v").as("vb"), col("norm").as("nb"))
    a.join(b, Seq("label", "__bi", "__bj"))
      .filter(Blocking.pairPredicate(col("ida"), col("idb")))
      // barrier: the dot product must not inline into filter + round
      .withColumn("cos", graft.functions.CollapseBarrier(
        dot(col("va"), col("vb")) / (col("na") * col("nb"))))
      .filter(col("cos") > threshold)
      .select(least(col("ida"), col("idb")).as("id1"),
        greatest(col("ida"), col("idb")).as("id2"),
        round(col("cos"), 6).as("cos_sim"))
  }

  /** Shared constants of the portable MinHash family (q66): 16 affine
    * permutations over the mod-p gram-fingerprint universe. aₖ·g stays
    * under 2⁶³ (both factors < p ≈ 2³⁰), so the arithmetic is exact
    * BIGINT on both engines. */
  // `final` with a literal: a compile-time constant, safe to reference
  // from `registry` above despite declaration order
  private[graft] final val MinhashP = 1000000007L
  // POWER family A(k) = C^(k+1) mod p, NOT multiples (2k+1)·C: with
  // common-factor multipliers every permutation shares its argmin — a
  // gram whose C·g mod p lands small stays smallest under every small
  // odd multiple, so ONE changed gram flipped all 16 signature
  // components and near-dup recall collapsed (found by the r7b
  // nearDupStream spec: a J=0.87 pair agreed on 1/16 components; with
  // powers it agrees on 15/16 and the estimator calibrates to
  // mean |J−est| ≈ 0.02). The additive bⱼ can never fix this: a
  // constant shift preserves every argmin. Exact BIGINT on both
  // engines (both factors < p ≈ 2³⁰).
  // lazy: `registry` above is initialized first and reaches these via
  // the oracle generators — an eager val would still be null then
  // 32 entries: k = 0..15 are the q66 family (values unchanged — the
  // generator is a sequential power chain); 16..31 extend it for
  // wider-banded layouts (r10: the q128 8×4 sweep point needs 32
  // permutations at constant band width)
  private[graft] lazy val minhashAs: Array[Long] = {
    val out = new Array[Long](32)
    var acc = 1L
    for (k <- 0 until 32) { acc = acc * 2654435761L % MinhashP; out(k) = acc }
    out
  }
  private[graft] def minhashA(k: Int): Long = minhashAs(k)
  private[graft] def minhashB(k: Int): Long = (40503L * k + 17) % MinhashP

  /** Portable-hash MinHash-LSH (q66): 8-char-gram fingerprints at stride
    * 4, 16 signature permutations, 4 bands of 4 keyed by the signature
    * tuple. Exposed for DedupSpec (exact duplicates must collide in every
    * band). */
  def minhashPortable(docs: DataFrame): DataFrame = {
    val banded = minhashBanded(docs)
    val a = banded.select(col("band"), col("s0"), col("s1"), col("s2"),
      col("s3"), col("doc_id").as("id1"))
    val b = banded.select(col("band"), col("s0"), col("s1"), col("s2"),
      col("s3"), col("doc_id").as("id2"))
    a.join(b, Seq("band", "s0", "s1", "s2", "s3"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2")).distinct()
      .orderedResult(col("id1"), col("id2"))
  }

  /** The q66 banded signature relation (doc_id, band, s0..s3) — one row
    * per document per band, portable-hash so DuckDB reproduces it
    * bit-for-bit. Shared by [[minhashPortable]] (bucket self-join) and
    * PipelineQueries' LSH cluster-stats rung (bucket-representative
    * star edges). */
  private[operators] def minhashBanded(docs: DataFrame): DataFrame = {
    val grams = docs
      .filter(length(col("text")) >= 8)
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.GramHashArray(col("text"), stride = 4))).as("g"))
    val sigs = grams.groupBy("doc_id")
      .agg(min((col("g") * minhashA(0) + minhashB(0)) % MinhashP).as("sig0"),
        (1 until 16).map(k =>
          min((col("g") * minhashA(k) + minhashB(k)) % MinhashP).as(s"sig$k")): _*)
    val bands = (0 until 4).map(b =>
      struct(lit(b).as("band"),
        col(s"sig${4 * b}").as("s0"), col(s"sig${4 * b + 1}").as("s1"),
        col(s"sig${4 * b + 2}").as("s2"), col(s"sig${4 * b + 3}").as("s3")))
    sigs
      .select(col("doc_id"), explode(array(bands: _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.s0").as("s0"),
        col("b.s1").as("s1"), col("b.s2").as("s2"), col("b.s3").as("s3"))
  }

  /** The CTE chain reproducing [[minhashBanded]] in DuckDB (g → sigs →
    * bands), generated from the same constants. Shared by the q66 oracle
    * and PipelineQueries' q128 LSH cluster-stats oracle. */
  // ── TOKEN-set MinHash banding (r10): the q132 certificate showed the
  // char-shingle estimator CANNOT serve token-Jaccard clustering — true
  // token-jac ≥ 0.8 pairs on this corpus have shingle-jac ≈ 0.02
  // (token-level rewrites destroy 8-char windows), so 4×4 banding fires
  // with p ≈ 0.02⁴ and the q128 rung recovered 12 % of exact-cluster
  // docs. Banding over minhashes of the TOKEN set aligns the estimator
  // with the verifier: per-band collision = tok_jac⁴ (0.41 at t = 0.8),
  // ≥ 1-of-4-bands = 0.88 per true pair. Portable token hash: the
  // gramHashSql polynomial over the token's first 16 chars (ascii of
  // an out-of-range substr is 0 on BOTH engines, so short tokens pad
  // with zeros and 16+-char tokens truncate identically). ──

  /** 31^k mod p coefficients for the portable token polynomial. */
  private[operators] val tokenHashC: IndexedSeq[Long] = {
    val out = Array.fill(16)(1L)
    for (k <- 1 until 16) out(k) = out(k - 1) * 31L % MinhashP
    out.toIndexedSeq
  }

  /** Portable per-token hash: Σ ascii(char_k)·31^k mod p over the first
    * 16 chars — term sum ≤ 16·255·10⁹ ≈ 4·10¹², no overflow. The
    * INTERPRETED reference form; the hot path uses the compiled
    * [[graft.functions.TokenHashArray]] (spec-pinned equal on
    * multi-space / trailing-space / empty / >16-char inputs). */
  private[graft] def tokenHash(w: Column): Column =
    (0 until 16).map(k => ascii(substring(w, k + 1, 1)).cast("long")
      * lit(tokenHashC(k))).reduce(_ + _) % MinhashP

  private[operators] def tokenHashSql(w: String): String =
    (0 until 16).map(k =>
      s"ascii(substr($w,${k + 1},1))*CAST(${tokenHashC(k)} AS BIGINT)")
      .mkString("(", " + ", s") % $MinhashP")

  /** [[minhashBanded]] over the TOKEN set instead of char shingles —
    * the banding that serves token-Jaccard cluster recovery (q128/
    * q132) and the decontamination rung (q133/q134/q136). Up to 32
    * affine permutations; the band LAYOUT is a knob: `bands` ×
    * `rowsPerBand` ≤ 32 signatures with `rowsPerBand` ≤ 4, band b
    * keyed by sigs [rowsPerBand·b, rowsPerBand·(b+1)) (unused key
    * slots pinned 0 so the bucket schema stays 4-wide). Per-pair
    * collision = 1−(1−sʳ)ᵇ: 4×4 fires at 0.88 for s = 0.8; the
    * REGISTERED 8×4 (32 permutations) at 0.985 — the q132 sweep's
    * frontier point (PERF r10). Computed PER ROW ([[withTokenBands]])
    * — no explode + doc-keyed aggregate, so banding a corpus costs no
    * shuffle at all. */
  private[graft] def minhashBandedTokens(docs: DataFrame,
                                             bands: Int = 4,
                                             rowsPerBand: Int = 4): DataFrame =
    withTokenBands(docs, bands, rowsPerBand, Seq("doc_id"))

  /** Registry-shared WHOLE-CORPUS banded-token relation (r12, guide
    * §1.2 — don't compute things twice): (doc_id, source, band,
    * s0..s3) over every document, through the shared-relation memo.
    * Per-doc signatures are independent of every other row, so
    * FILTERING this relation by a source predicate is bit-identical to
    * banding the filtered slice — which is how one persisted banding
    * pass (the corpus-scale TokenHashArray + 32-permutation sweep)
    * serves consumers that previously each re-signed their own slice:
    * the q128/q132 chain rung (all rows), the q133/q134/q136 decon
    * rung (train + eval slices), and q137's old/new snapshot slices.
    * Size: docs × `bands` rows of 7 scalar columns — far smaller than
    * the corpus text it replaces re-scanning. */
  private[operators] def minhashBandedTokensShared(documents: DataFrame,
                                                   bands: Int,
                                                   rowsPerBand: Int): DataFrame =
    SharedRelations("mhband", documents, bands, rowsPerBand)(
      withTokenBands(documents.select(col("doc_id"), col("source"),
        // `n` (r12): the VERIFIER's distinct-token count, carried so
        // every banded-candidate consumer can run the exact LENGTH
        // pre-filter (jac ≥ t ⇒ min(n₁,n₂) ≥ t·max(n₁,n₂), the
        // prefixSimilarityJoin discipline) BEFORE the array-verify
        // join. Computed from the same split the verifiers use — NOT
        // from the hash array, whose collisions could under-count and
        // over-prune. One extra long per doc inside the one-time
        // shared banding pass.
        size(array_distinct(tokens(col("text")))).as("n"),
        col("text")), bands, rowsPerBand, Seq("doc_id", "source", "n")))

  /** THE per-row token-minhash banding — the single definition of the
    * hash chain (compiled [[graft.functions.TokenHashArray]] → 32
    * affine permutations → per-band min) and the band-slot layout,
    * consumed by [[minhashBandedTokens]] (offline q128/q132/q133) AND
    * [[graft.streaming.DocStream.deconScreenStream]] (r10 review: a
    * third inlined copy of the layout would drift silently — the
    * streamed screen's exact-equality pin depends on byte-identical
    * banding). `carry` columns ride along (the screen keeps `text` for
    * the verify); per-row signature min equals the exploded groupBy
    * min over the same token hashes, so the rewrite is plan-shape
    * only. The token-hash pass sits behind a CollapseBarrier so the
    * 32 per-permutation mins read one materialized array instead of
    * re-inlining one compiled pass each. */
  private[graft] def withTokenBands(docs: DataFrame, bands: Int,
                                    rowsPerBand: Int,
                                    carry: Seq[String]): DataFrame = {
    val numSigs = bands * rowsPerBand
    require(numSigs <= 32 && rowsPerBand <= 4,
      "32 permutations, 4-wide bucket schema")
    val sigd = docs
      .withColumn("__th", graft.functions.CollapseBarrier(
        graft.functions.TokenHashArray(col("text"))))
      // TokenHashArray never returns an empty array (empty text hashes
      // to one zero-segment), but a NULL text would yield a NULL __th
      // and thus band rows with NULL signature slots — null keys never
      // equi-join, but they would flow into heavy-bucket counting and
      // any bucket-statistics consumer (r10 advice). Drop them here so
      // banded relations never carry null-signature rows.
      .filter(size(col("__th")) > 0)
      .withColumn("sig", array((0 until numSigs).map(k =>
        array_min(transform(col("__th"),
          g => (g * minhashA(k) + minhashB(k)) % MinhashP))): _*))
    def sig(b: Int, j: Int): Column =
      if (j < rowsPerBand) col("sig")(rowsPerBand * b + j) else lit(0L)
    val bandStructs = (0 until bands).map(b =>
      struct(lit(b).as("band"), sig(b, 0).as("s0"), sig(b, 1).as("s1"),
        sig(b, 2).as("s2"), sig(b, 3).as("s3")))
    sigd
      .select(carry.map(col) :+ explode(array(bandStructs: _*)).as("b"): _*)
      .select(carry.map(col) ++ Seq(col("b.band").as("band"),
        col("b.s0").as("s0"), col("b.s1").as("s1"), col("b.s2").as("s2"),
        col("b.s3").as("s3")): _*)
  }

  /** [[minhashBandedCtes]]'s token-set twin (ends in `bands`), same
    * layout knob as [[minhashBandedTokens]]. */
  private[operators] def minhashBandedTokensCtes(
      bands: Int = 4, rowsPerBand: Int = 4): String = {
    val sigExprs = (0 until bands * rowsPerBand).map(k =>
      s"list_min(list_transform(gs, g -> (g * ${minhashA(k)} + ${minhashB(k)}) % $MinhashP)) AS sig$k")
      .mkString(",\n    ")
    def sig(b: Int, j: Int): String =
      if (j < rowsPerBand) s"sig${rowsPerBand * b + j}" else "CAST(0 AS BIGINT)"
    val bandRows = (0 until bands).map(b =>
      s"SELECT doc_id, $b AS band, ${sig(b, 0)} AS s0, ${sig(b, 1)} AS s1, " +
        s"${sig(b, 2)} AS s2, ${sig(b, 3)} AS s3 FROM sigs")
      .mkString("\n  UNION ALL ")
    s"""g AS (SELECT doc_id,
       |    list_distinct(list_transform(string_split(text, ' '),
       |      w -> ${tokenHashSql("w")})) AS gs
       |  FROM documents),
       |sigs AS (SELECT doc_id,
       |    $sigExprs
       |  FROM g),
       |bands AS (
       |  $bandRows)""".stripMargin
  }

  private[operators] def minhashBandedCtes: String = {
    val gram = (0 until 8).map(gramHashSql).mkString(" + ")
    val sigExprs = (0 until 16).map(k =>
      s"list_min(list_transform(gs, g -> (g * ${minhashA(k)} + ${minhashB(k)}) % $MinhashP)) AS sig$k")
      .mkString(",\n    ")
    val bandRows = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, sig${4 * b} AS s0, sig${4 * b + 1} AS s1, " +
        s"sig${4 * b + 2} AS s2, sig${4 * b + 3} AS s3 FROM sigs")
      .mkString("\n  UNION ALL ")
    s"""g AS (SELECT doc_id,
       |    list_distinct(list_transform(generate_series(1, length(text) - 7, 4),
       |      i -> ($gram) % $MinhashP)) AS gs
       |  FROM documents WHERE length(text) >= 8),
       |sigs AS (SELECT doc_id,
       |    $sigExprs
       |  FROM g),
       |bands AS (
       |  $bandRows)""".stripMargin
  }

  /** DuckDB twin of [[minhashPortable]], generated from the same
    * constants. */
  private def minhashPortableOracleSql: String = {
    s"""WITH $minhashBandedCtes
       |SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |FROM bands a JOIN bands b ON a.band = b.band AND a.s0 = b.s0
       |  AND a.s1 = b.s1 AND a.s2 = b.s2 AND a.s3 = b.s3
       |  AND a.doc_id < b.doc_id
       |ORDER BY id1, id2""".stripMargin
  }

  /** Portable SimHash bit family (q70): bit j of gram fingerprint g is
    * the parity of an affine permutation (aⱼ·g + bⱼ) mod p — a distinct
    * multiplier family from the MinHash permutations so the two sketches
    * stay uncorrelated. Both factors < p ≈ 2³⁰ keep aⱼ·g exact BIGINT. */
  // power family, same rationale as minhashAs: with (2j+1)·D multipliers
  // a gram whose D·g mod p is small (< p/127) never wraps, so it votes
  // the SAME sign on all 64 bits — correlated bits weaken the sketch
  private lazy val simhashAs: Array[Long] = {
    val out = new Array[Long](64)
    var acc = 1L
    for (j <- 0 until 64) { acc = acc * 2246822519L % MinhashP; out(j) = acc }
    out
  }
  private def simhashA(j: Int): Long = simhashAs(j)
  private def simhashB(j: Int): Long = (68279L * j + 29) % MinhashP

  /** Portable-hash SimHash (q70): 8-char-gram fingerprints at stride 4
    * (same gram universe as [[minhashPortable]]), 64 parity bit votes,
    * signature assembled as FOUR 16-bit band values (kept separate — no
    * 64-bit sign-extension pitfalls crossing engines), candidates share a
    * band value and have hamming distance ≤ 16 across all four. Exposed
    * for DedupSpec. */
  def simhashPortable(docs: DataFrame): DataFrame = {
    val grams = docs
      .filter(length(col("text")) >= 8)
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.GramHashArray(col("text"), stride = 4))).as("g"))
    def vote(j: Int) = sum(
      ((col("g") * simhashA(j) + simhashB(j)) % MinhashP % 2) * 2 - 1).as(s"v$j")
    val votes = grams.groupBy("doc_id")
      .agg(vote(0), (1 until 64).map(vote): _*)
    def bandVal(b: Int) = (0 until 16).map(jj =>
      when(col(s"v${16 * b + jj}") > 0, lit(1L << jj)).otherwise(lit(0L)))
      .reduce(_ + _)
    val sigs = votes.select(col("doc_id") +: (0 until 4)
      .map(b => bandVal(b).as(s"b$b")): _*)
    val bandRows = (0 until 4).map(b =>
      struct(lit(b).as("band"), col(s"b$b").as("bucket")))
    val banded = sigs
      .select(col("doc_id") +: col("b0") +: col("b1") +: col("b2") +: col("b3") +:
        Seq(explode(array(bandRows: _*)).as("bb")): _*)
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"),
        col("b0"), col("b1"), col("b2"), col("b3"))
    val a = banded.select(col("band"), col("bucket"), col("doc_id").as("id1"),
      col("b0").as("a0"), col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3"))
    val c = banded.select(col("band"), col("bucket"), col("doc_id").as("id2"),
      col("b0").as("c0"), col("b1").as("c1"), col("b2").as("c2"), col("b3").as("c3"))
    a.join(c, Seq("band", "bucket")).filter(col("id1") < col("id2"))
      .withColumn("hamming", (0 until 4).map(i =>
        bit_count(col(s"a$i").bitwiseXOR(col(s"c$i")))).reduce(_ + _))
      .filter(col("hamming") <= 16)
      .select(col("id1"), col("id2"), col("hamming")).distinct()
      .orderedResult(col("id1"), col("id2"))
  }

  /** DuckDB twin of [[simhashPortable]], generated from the same
    * constants. */
  private def simhashPortableOracleSql: String = {
    val gram = (0 until 8).map(gramHashSql).mkString(" + ")
    val voteExprs = (0 until 64).map(j =>
      s"list_sum(list_transform(gs, g -> (((g * ${simhashA(j)} + ${simhashB(j)}) % $MinhashP) % 2) * 2 - 1)) AS v$j")
      .mkString(",\n    ")
    val bandExprs = (0 until 4).map(b =>
      (0 until 16).map(jj =>
        s"(CASE WHEN v${16 * b + jj} > 0 THEN ${1L << jj} ELSE 0 END)")
        .mkString("(", " + ", s") AS b$b"))
      .mkString(",\n    ")
    val bandRows = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, b$b AS bucket, b0, b1, b2, b3 FROM sigs")
      .mkString("\n  UNION ALL ")
    val ham = (0 until 4).map(i => s"bit_count(xor(a.b$i, b.b$i))").mkString(" + ")
    s"""WITH g AS (SELECT doc_id,
       |    list_distinct(list_transform(generate_series(1, length(text) - 7, 4),
       |      i -> ($gram) % $MinhashP)) AS gs
       |  FROM documents WHERE length(text) >= 8),
       |votes AS (SELECT doc_id,
       |    $voteExprs
       |  FROM g),
       |sigs AS (SELECT doc_id,
       |    $bandExprs
       |  FROM votes),
       |bands AS (
       |  $bandRows)
       |SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
       |  CAST($ham AS INT) AS hamming
       |FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
       |  AND a.doc_id < b.doc_id
       |WHERE $ham <= 16
       |ORDER BY id1, id2""".stripMargin
  }

  /** 64-bit SimHash from token xxhash64 bit votes; candidates share one of
    * four 16-bit bands (exact-match blocking) and have hamming distance
    * <= 16. The hamming cut is deliberately loose: for short documents a
    * single changed token shifts every bit's vote by 2, flipping
    * O(n / sqrt(n_tokens)) bits, so tight cuts only work on long docs; the
    * shared-band requirement is what keeps the candidate set small. */
  def simhashCandidates(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    // explode tokens; per-bit votes as 64 codegen'd sum() aggregates over
    // sign(bit) (the per-row xxhash64 is shared across the 64 aggregates by
    // subexpression elimination); the signature is assembled from the vote
    // columns post-aggregation
    val h = xxhash64(col("tok"))
    val votes = docs
      .select(col("doc_id"), explode(t).as("tok"))
      .groupBy("doc_id")
      .agg(sum(bitSign(h, 0)).as("v0"),
        (1 until 64).map(j => sum(bitSign(h, j)).as(s"v$j")): _*)
    val simhash = (0 until 64)
      .map(j => when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_.bitwiseOR(_))
    val withSig = votes.select(col("doc_id"), simhash.as("simhash"))
    val bands = (0 until 4).map(b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * 16).bitwiseAND(0xFFFFL).as("bucket")))
    val banded = withSig
      .select(col("doc_id"), col("simhash"), explode(array(bands: _*)).as("b"))
      .select(col("doc_id"), col("simhash"), col("b.band").as("band"), col("b.bucket").as("bucket"))
    val a = banded.select(col("band"), col("bucket"),
      col("doc_id").as("id1"), col("simhash").as("s1"))
    val b = banded.select(col("band"), col("bucket"),
      col("doc_id").as("id2"), col("simhash").as("s2"))
    a.join(b, Seq("band", "bucket")).filter(col("id1") < col("id2"))
      .withColumn("hamming", bit_count(col("s1").bitwiseXOR(col("s2"))))
      .filter(col("hamming") <= 16)
      .select(col("id1"), col("id2"), col("hamming")).distinct()
      .orderedResult(col("id1"), col("id2"))
  }

  /** `n`-char shingles sampled at `stride` (~len/stride per doc): bounded
    * per-doc cost, no hashing, so the DuckDB oracle reproduces them
    * exactly. Shingle length is the SELECTIVITY knob: the distinct-shingle
    * universe must outgrow a source block's size or every shingle is hot
    * (see [[charShinglePrefixJoin]]); 3 suits natural text at the bench
    * scale, small alphabets (digit-heavy corpora) need longer shingles. */
  private def charShingles(text: Column, n: Int, stride: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(text) - lit(n - 1), lit(1)), lit(stride)),
      i => text.substr(i, lit(n))))

  /** All-pairs char-shingle Jaccard within `source` blocks — the
    * small-corpus twin of [[charShinglePrefixJoin]] (DedupSpec pins them
    * equal). Block-quadratic in both pairs and per-pair array scans:
    * correct, but not the shape to run at corpus scale. */
  def charShingleAllPairs(documents: DataFrame, threshold: Double = 0.5,
                          shingleLen: Int = 3, stride: Int = 8): DataFrame = {
    val docs = documents
      .select(col("doc_id"), col("source"),
        charShingles(col("text"), shingleLen, stride).as("sh"))
    val a = docs.select(col("source"), col("doc_id").as("id1"), col("sh").as("s1"))
    val b = docs.select(col("source"), col("doc_id").as("id2"), col("sh").as("s2"))
    // |union| = n1 + n2 - |inter| for distinct arrays: one array scan
    // per pair instead of two (intersect + union), measured ~40% less
    a.join(b, Seq("source")).filter(col("id1") < col("id2"))
      // barrier: `inter` is referenced by jac (twice) and jac by the
      // filter + projection — unbarriered, the intersection inlines into
      // every reference and the array scan runs 3x per pair
      .withColumn("inter", graft.functions.CollapseBarrier(
        size(array_intersect(col("s1"), col("s2")))))
      .withColumn("jac", col("inter").cast("double") /
        (size(col("s1")) + size(col("s2")) - col("inter")))
      .filter(col("jac") >= threshold)
      .select(col("id1"), col("id2"), col("jac"))
      .orderedResult(col("id1"), col("id2"))
  }

  /** Exact char-shingle Jaccard join via PREFIX FILTERING — the classic
    * exact set-similarity join (SSJoin/PPJoin family; the MapReduce
    * formulation is Vernica et al., SIGMOD 2010). Identical output to
    * [[charShingleAllPairs]], but candidate pairs come from an inverted
    * index over each document's RAREST shingles only:
    *
    *  1. rank each doc's shingles by ascending per-source frequency (a
    *     fixed total order — ties broken by the shingle itself);
    *  2. a doc with n shingles keeps its first n - ceil(t*n) + 1 as the
    *     prefix: any pair with jac >= t must share a prefix shingle
    *     (miss all of them and at most ceil(t*n) - 1 < ceil(t*n) overlaps
    *     remain, contradicting jac >= t => inter >= t*n);
    *  3. candidates = equi-join on (source, prefix shingle) + the length
    *     filter min(n1,n2) >= t*max(n1,n2) (jac <= min/max), deduplicated;
    *  4. each candidate verifies ONCE against the full shingle arrays.
    *
    * Hot shingles ("er ", "th ") index almost every document but are
    * (nearly) never in a prefix, so the quadratic fan-out of a plain
    * inverted-index join never materializes; scaling the corpus grows the
    * prefix join linearly in docs-per-rare-shingle. BENCH: 36.1 s -> ~5 s
    * at sf0.1 vs the all-pairs shape.
    *
    * PRECONDITION (inherent to prefix filtering, not this
    * implementation): the shingle-frequency distribution needs a rare
    * tail — if the distinct-shingle universe is small relative to a
    * source block (tiny alphabets, heavily repetitive corpora), even the
    * "rarest" prefix shingles are shared by large doc sets and the
    * candidate join degenerates toward all-pairs. Counter it by raising
    * `shingleLen` (universe grows exponentially in it): a 100k-doc
    * digit-heavy corpus needs shingleLen=8 (PERF.md near-dup battery
    * throughput). */
  def charShinglePrefixJoin(documents: DataFrame, threshold: Double = 0.5,
                            shingleLen: Int = 3, stride: Int = 8): DataFrame =
    prefixSimilarityJoin(documents.select(col("doc_id"), col("source"),
      charShingles(col("text"), shingleLen, stride).as("sh")), threshold)

  /** See [[prefixSimilarityJoin]]'s `sorted` note. */

  /** Token-level twin of [[charShinglePrefixJoin]]: the third verified
    * formulation of n-gram Jaccard (q29 all-pairs, q44 plain inverted
    * index, q56 prefix-filtered) — identical output and oracle. The plain
    * inverted join counts EVERY shared token per pair, so hot tokens fan
    * out quadratically within their blocks; the prefix filter only
    * indexes each doc's rarest tokens, bounding candidate generation, and
    * hot tokens are touched once per VERIFIED candidate instead. */
  def tokenPrefixJoin(documents: DataFrame, threshold: Double = 0.4,
                      heavyListThreshold: Int = 4096,
                      sorted: Boolean = true): DataFrame =
    prefixSimilarityJoin(documents.select(col("doc_id"), col("source"),
      array_distinct(tokens(col("text"))).as("sh")), threshold,
      heavyListThreshold, sorted = sorted)

  /** Token-set Jaccard near-dup pairs, source-grouped all-pairs through
    * the TRIANGLE-BLOCKED self-join cover (q29; see [[Blocking]]): a
    * plain source-keyed self-join parallelizes only by #sources (five
    * tasks forever, each block-quadratic); blocking spreads the same
    * pairs over sources × B(B+1)/2 tasks. Output is independent of
    * `blocks` (spec-pinned blocks=1 == blocks=8) — the knob trades
    * replication (~(B+1)/2 per side) for parallelism, so small strata
    * should run blocks=1 and large ones scale up; see
    * [[Blocking.blocksFor]] for the sizing rule (ADVICE r6). */
  def tokenJaccardBlocked(documents: DataFrame, threshold: Double = 0.4,
                          blocks: Int = 8): DataFrame = {
    val toks = documents
      .select(col("doc_id"), col("source"), array_distinct(tokens(col("text"))).as("t"))
    val (lft, rgt) = Blocking.triangleSides(toks, col("doc_id"), blocks)
    val a = lft.select(col("source"), col("__bi"), col("__bj"),
      col("doc_id").as("ida"), col("t").as("ta"), size(col("t")).as("na"))
    val b = rgt.select(col("source"), col("__bi"), col("__bj"),
      col("doc_id").as("idb"), col("t").as("tb"), size(col("t")).as("nb"))
    a.join(b, Seq("source", "__bi", "__bj"))
      .filter(Blocking.pairPredicate(col("ida"), col("idb")))
      // |union| = n1 + n2 - |inter| for distinct arrays: ONE array
      // scan per pair; barrier so filter + projection don't re-inline
      // the intersection
      .withColumn("inter", graft.functions.CollapseBarrier(
        size(array_intersect(col("ta"), col("tb")))))
      .withColumn("jac", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")))
      .filter(col("jac") >= threshold)
      // cross-bucket rows arrive in either id order; jac is symmetric
      .select(least(col("ida"), col("idb")).as("id1"),
        greatest(col("ida"), col("idb")).as("id2"), col("jac"))
      .orderedResult(col("id1"), col("id2"))
  }

  /** Plain inverted-index token-Jaccard join (q44) with a heavy-token
    * guard. Unlike the prefix filter, this formulation counts EVERY
    * shared token per pair, so a token appearing in f documents emits
    * f·(f−1)/2 co-occurrence rows — work that is inherent to the
    * formulation (the rows are real intersection contributions, not
    * prunable candidates), but which a plain join assigns to the ONE
    * task owning that token's key. The guard splits the token space:
    * posting lists ≥ `heavyTokenThreshold` go through [[Salting]]'s
    * scatter/replicate self-join, so each task's probe input is bounded
    * by list/`salt` rows and the quadratic emission is spread over
    * `salt` tasks. Heavy tokens are few by definition (≤ corpus
    * tokens / threshold), so the flag set is broadcastable — same
    * argument as [[prefixSimilarityJoin]]'s heavy-list guard, and the
    * two paths partition the key space, so the union of their
    * co-occurrence rows is exactly the plain join's (spec-pinned on a
    * one-hot-token corpus). Map-side partial aggregation then collapses
    * co-occurrence rows into per-pair counts before the (id1, id2)
    * shuffle. */
  def invertedJaccardJoin(documents: DataFrame, threshold: Double = 0.4,
                          heavyTokenThreshold: Int = 4096,
                          salt: Int = 16): DataFrame = {
    val toks = documents.select(col("doc_id"), col("source"),
      explode(array_distinct(tokens(col("text")))).as("token"))
    val (flagged, co) = guardedCoOccurrence(toks, Seq.empty,
      heavyTokenThreshold, salt)
    val sizes = flagged.groupBy(col("doc_id").as("sid")).agg(count(lit(1)).as("sz"))
    val inter = co.select(col("id1"), col("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("inter"))
    // sizes is per-DOCUMENT (data-sized, not dimension-sized): no
    // broadcast hint — at corpus scale it must shuffle-join on doc id;
    // AQE still picks a broadcast when the input is genuinely small
    inter
      .join(sizes, col("id1") === col("sid")).drop("sid")
      .withColumnRenamed("sz", "n1")
      .join(sizes, col("id2") === col("sid")).drop("sid")
      .withColumnRenamed("sz", "n2")
      .withColumn("jac", col("inter").cast("double") /
        (col("n1") + col("n2") - col("inter")))
      .filter(col("jac") >= threshold)
      .select(col("id1"), col("id2"), col("jac"))
      .orderedResult(col("id1"), col("id2"))
  }

  /** WEIGHTED (multiset / TF) Jaccard join (q112): Σ_t min(tfA,tfB) /
    * Σ_t max(tfA,tfB) — the dedup measure that still fires when a
    * boilerplate-heavy document repeats its near-dup's tokens at
    * different multiplicities (set Jaccard saturates at 1 token each;
    * the weighted form weighs every occurrence). Σmax is derived as
    * totA + totB − Σmin, so only the min-sum needs the pair join.
    *
    * Shape: the q44 guarded inverted index, carrying per-(doc, token)
    * TF instead of presence — co-occurrence rows contribute
    * least(tf1, tf2) and map-side partial aggregation collapses them
    * before the (id1, id2) shuffle; posting lists ≥
    * `heavyTokenThreshold` route through the salted scatter join
    * exactly as q44 (the quadratic emission is inherent, the guard
    * spreads it over `salt` tasks). Totals are per-document
    * (data-sized) — shuffle-joined, broadcast only if AQE decides. */
  def weightedJaccardJoin(documents: DataFrame, threshold: Double = 0.4,
                          heavyTokenThreshold: Int = 4096,
                          salt: Int = 16): DataFrame =
    tfPairStatsShared(documents, heavyTokenThreshold, salt)
      .withColumn("wjac", col("minsum").cast("double") /
        (col("t1") + col("t2") - col("minsum")))
      .filter(col("wjac") >= threshold)
      .select(col("id1"), col("id2"), col("wjac"))
      .orderedResult(col("id1"), col("id2"))

  /** Directed CONTAINMENT join (q117): emit (id_sub, id_sup) when
    * Σ_t min(tf_sub, tf_sup) / |sub| ≥ t — the asymmetric cousin of
    * weighted Jaccard that catches quotes, excerpts and supersets
    * (a short doc fully contained in a long one scores containment ≈ 1
    * while its Jaccard stays low). Both directions derive from the SAME
    * unordered pair statistics ([[tfPairStats]]) — no second join. */
  def containmentJoin(documents: DataFrame, threshold: Double = 0.8,
                      heavyTokenThreshold: Int = 4096,
                      salt: Int = 16): DataFrame = {
    val stats = tfPairStatsShared(documents, heavyTokenThreshold, salt)
    val fwd = stats.select(col("id1").as("id_sub"), col("id2").as("id_sup"),
      (col("minsum").cast("double") / col("t1")).as("containment"))
    val bwd = stats.select(col("id2").as("id_sub"), col("id1").as("id_sup"),
      (col("minsum").cast("double") / col("t2")).as("containment"))
    fwd.unionByName(bwd)
      .filter(col("containment") >= threshold)
      .orderedResult(col("id_sub"), col("id_sup"))
  }

  /** Per-document top-k most-similar SAME-SOURCE neighbors (q124): the
    * dedup review relation — for every document, its k nearest
    * neighbors within its source block by weighted Jaccard, with an
    * integer-scaled score so the ranking is bit-exact on both engines
    * (ws = minsum·10⁹ div Σmax — no float in a result-bearing ORDER).
    * Source-blocked like the whole q29/q44/q56/q112 battery (the
    * blocking unit is the partition strategy); cross-source duplication
    * is the province of the corpus-block screens (q80 incremental,
    * q98/q109 overlap, q125 cluster report) — r7f review note. Derived
    * from the SAME [[tfPairStats]] relation as q112/q117; the per-doc
    * top-k is the bounded [[graft.functions.TopK]] buffer (ordered
    * ws DESC, neighbor ASC), never a per-doc rank window over the pair
    * relation. `minScaled` floors the candidate set (0.1 here) so the
    * relation stays review-sized. */
  def topSimilarPerDoc(documents: DataFrame, k: Int = 3,
                       minScaled: Long = 100000000L): DataFrame = {
    val stats = tfPairStatsShared(documents, heavyTokenThreshold = 4096, salt = 16)
    val sc = stats.withColumn("ws",
        expr("minsum * 1000000000 DIV (t1 + t2 - minsum)"))
      .filter(col("ws") >= minScaled)
    val dir = sc.select(explode(array(
        struct(col("id1").as("d"), col("id2").as("o"), col("ws")),
        struct(col("id2").as("d"), col("id1").as("o"), col("ws")))).as("m"))
      .select(col("m.d").as("doc_id"), col("m.o").as("neighbor"),
        col("m.ws").as("ws"))
    val topk = graft.functions.TopK.longPairUdaf(k)
    dir.groupBy(col("doc_id"))
      .agg(topk(col("ws"), col("neighbor")).as("t"))
      .select(col("doc_id"), posexplode(col("t")).as(Seq("p", "e")))
      .select(col("doc_id"), (col("p") + 1).cast("long").as("rank"),
        col("e._2").as("neighbor"), col("e._1").as("wjac_scaled"))
      .orderedOutput(col("doc_id"), col("rank"))
  }

  private def tfPairStatsShared(documents: DataFrame,
                                heavyTokenThreshold: Int,
                                salt: Int): DataFrame =
    SharedRelations("tfpair", documents, heavyTokenThreshold, salt)(
      tfPairStats(documents, heavyTokenThreshold, salt))

  /** Memoized near-dup EDGE relation — [[tokenPrefixJoin]] with
    * `sorted = false`, shared across registry consumers the same way
    * [[tfPairStatsShared]] shares the TF pair statistics: q57
    * (components) and q81 (leakage-safe split) consume the identical
    * t = 0.5 edge set; q96 (PageRank) and q99 (canonical-by-rank) the
    * identical t = 0.4 one. A [[SharedRelations]] entry keyed by the
    * threshold (scaled to ppm) and the guard knob. */
  def tokenPrefixJoinShared(documents: DataFrame, threshold: Double,
                            heavyListThreshold: Int = 4096): DataFrame =
    SharedRelations("edges", documents,
      math.round(threshold * 1000000).toInt, heavyListThreshold)(
      tokenPrefixJoin(documents, threshold, heavyListThreshold,
        sorted = false))

  /** The base threshold of the TIERED shared edge relation
    * ([[tokenPrefixEdgesAtLeast]]) — the lowest threshold any registry
    * consumer asks for (q96/q99 at 0.4). */
  private[graft] val EdgeBaseThreshold = 0.4

  /** Tiered shared token-Jaccard edge relation (r11 — guide §2.4,
    * remove shuffles/passes outright): every registry consumer's
    * threshold (0.4 q96/q99; 0.5 q57/q81/q110) derives from ONE base
    * build at [[EdgeBaseThreshold]] by an exact `jac >= t` filter. Why
    * this is result-identical to a direct build at `t`: the prefix
    * theorem at the LOWER base threshold admits a superset of the
    * candidates a build at `t` admits, verification computes the SAME
    * float `jac` expression over the same arrays either way, and the
    * direct build's output is exactly {pairs | jac >= t} — so the
    * filtered base relation is the same row set bit-for-bit
    * (spec-pinned in SharedPairCacheSpec). One registry pass now runs
    * ONE exact similarity join where the r10 cold pass ran three
    * (t=0.4 shared, t=0.5 shared, and q110's private t=0.5 build).
    * The filtered view rides the memo too, so same-threshold consumers
    * share one persisted relation. Thresholds at or below the base
    * fall back to the plain per-threshold entry. */
  def tokenPrefixEdgesAtLeast(documents: DataFrame, threshold: Double,
                              heavyListThreshold: Int = 4096): DataFrame =
    if (threshold <= EdgeBaseThreshold)
      tokenPrefixJoinShared(documents, threshold, heavyListThreshold)
    else {
      val base = tokenPrefixJoinShared(documents, EdgeBaseThreshold,
        heavyListThreshold)
      SharedRelations("edgesf", documents,
        math.round(threshold * 1000000).toInt, heavyListThreshold)(
        base.filter(col("jac") >= threshold))
    }

  /** Component assignment over [[tokenPrefixEdgesAtLeast]]'s edge set,
    * memoized: q57 and q81 consume the IDENTICAL (id, component)
    * relation over the t = 0.5 edges, and star contraction (several
    * aggregate+join+checkpoint rounds) was the dominant cost of each —
    * one run now serves both. Result identical to calling
    * [[ConnectedComponents.components]] directly (deterministic
    * min-label assignment). */
  def tokenEdgeComponentsShared(documents: DataFrame, threshold: Double,
                                heavyListThreshold: Int = 4096): DataFrame = {
    val edges = tokenPrefixEdgesAtLeast(documents, threshold,
        heavyListThreshold)
      .select(col("id1").as("u"), col("id2").as("v"))
    SharedRelations("tokcc", documents,
      math.round(threshold * 1000000).toInt, heavyListThreshold)(
      ConnectedComponents.components(
        documents.select(col("doc_id").as("id")), edges))
  }

  /** Shared TF-pair statistics of q112/q117/q124: unordered
    * within-source pairs `(id1 < id2, minsum = Σ_t min(tf1, tf2), t1,
    * t2)` through the q44 guarded inverted index carrying per-(doc,
    * token) TF. Consumers go through [[tfPairStatsShared]]. */
  private def tfPairStats(documents: DataFrame,
                          heavyTokenThreshold: Int,
                          salt: Int): DataFrame = {
    val tf = documents.select(col("doc_id"), col("source"),
        explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("source"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val (flagged, co) = guardedCoOccurrence(tf, Seq("tf"),
      heavyTokenThreshold, salt)
    val totals = flagged.groupBy(col("doc_id").as("sid"))
      .agg(sum(col("tf")).as("tot"))
    val minsum = co.select(col("id1"), col("id2"),
        least(col("tf1"), col("tf2")).as("m"))
      .groupBy("id1", "id2").agg(sum(col("m")).as("minsum"))
    // totals are per-DOCUMENT (data-sized): no broadcast hint (q44 rule)
    minsum
      .join(totals, col("id1") === col("sid")).drop("sid")
      .withColumnRenamed("tot", "t1")
      .join(totals, col("id2") === col("sid")).drop("sid")
      .withColumnRenamed("tot", "t2")
  }

  /** The guarded within-source co-occurrence generator shared by the
    * inverted-index joins (q44 set-Jaccard; q112/q117 via
    * [[tfPairStats]]): pairs every two index rows sharing
    * (source, token). `index` is one row per (doc_id, source, token)
    * plus optional `payload` columns, which come back suffixed
    * (`tf` → `tf1`/`tf2`). Posting lists ≥ `heavyTokenThreshold` route
    * through [[Salting.saltedJoin]] (scatter/replicate — the quadratic
    * emission is inherent to the formulation; the guard spreads it over
    * `salt` tasks); heavy keys are few by definition → broadcastable
    * flag set, and the two paths partition the key space, so the union
    * is exactly the plain join's row set (spec-pinned on hot-token
    * corpora for both the set and TF payloads). Returns
    * (flaggedIndex, coRows): the index is checkpoint-materialized once
    * because it feeds per-doc statistics plus both sides of both join
    * paths (see [[prefixSimilarityJoin]]'s identical trade). */
  private def guardedCoOccurrence(index: DataFrame, payload: Seq[String],
                                  heavyTokenThreshold: Int,
                                  salt: Int): (DataFrame, DataFrame) = {
    val heavyKeys = index.groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= heavyTokenThreshold)
      .select(col("source"), col("token"), lit(true).as("__heavy"))
    val flagged = Checkpoints.truncate(
      index.join(broadcast(heavyKeys), Seq("source", "token"), "left"))
    def side(df: DataFrame, suffix: String): DataFrame =
      df.select(Seq(col("source"), col("token"),
        col("doc_id").as(s"id$suffix")) ++
        payload.map(p => col(p).as(s"$p$suffix")): _*)
    val light = flagged.filter(col("__heavy").isNull)
    val heavy = flagged.filter(col("__heavy").isNotNull)
    val lightCo = side(light, "1").join(side(light, "2"), Seq("source", "token"))
    val heavyCo = Salting.saltedJoin(side(heavy, "1"), side(heavy, "2"),
      Seq("source", "token"), scatterCols = Seq(col("id1")), salt = salt)
    (flagged, lightCo.unionByName(heavyCo).filter(col("id1") < col("id2")))
  }

  /** Exact Jaccard similarity join over per-document element arrays
    * `(doc_id, source, sh)` via prefix filtering — see
    * [[charShinglePrefixJoin]] for the algorithm and its selectivity
    * precondition.
    *
    * Heavy-posting-list guard: the per-list pair generator is quadratic
    * INSIDE ONE TASK, so a hot element that survives into prefixes (tiny
    * alphabets, boilerplate-heavy corpora — the degeneracy the
    * precondition note describes: a digit-heavy corpus at shingleLen=3,
    * PERF.md r6) would wall a single core.
    * Lists with ≥ `heavyListThreshold` prefix entries are counted up
    * front (heavy keys are few by definition → broadcastable, same
    * argument as [[minhashCandidates]]'s bucket guard) and routed through
    * a salted self-join instead: probe side scattered `salt` ways by doc
    * id, build side replicated, so any task's probe input is bounded by
    * list/salt rows. The two paths partition the key space; their union
    * is exactly the unguarded generator's candidate set (spec-pinned on
    * the previously run-killing corpus). */
  def prefixSimilarityJoin(docArrays: DataFrame, threshold: Double,
                           heavyListThreshold: Int = 4096,
                           salt: Int = 16,
                           sorted: Boolean = true): DataFrame = {
    val docs = docArrays.withColumn("n", size(col("sh")))
    val exploded = docs.select(col("source"), col("doc_id"), col("n"),
      explode(col("sh")).as("s"))
    val freq = exploded.groupBy(col("source"), col("s"))
      .agg(count(lit(1)).as("f"))
    // conservative prefix: ceil over a downward-nudged product, so a
    // float product landing epsilon ABOVE the exact integer (0.4·30 =
    // 12 + 2e-15 in doubles) cannot shorten the prefix below the
    // theorem's bound and silently drop an exact-boundary pair
    val prefixLen = (col("n") - ceil(col("n") * threshold - 1e-9) + 1).cast("int")
    // truncate: the guard gives the prefix index FOUR consumers (size
    // count, light pairs, both salted sides) — materialize the
    // explode→freq→rank pipeline once instead of re-executing it per
    // consumer (reliable checkpoint on a cluster, local blocks here).
    // rk (the element's 1-based position in the doc's frequency-sorted
    // order) rides along for the PPJoin positional filter below.
    val prefixes = Checkpoints.truncate(exploded.join(freq, Seq("source", "s"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("f"), col("s"))))
      .filter(col("rk") <= prefixLen)
      .select(col("source"), col("s"), col("doc_id"), col("n"), col("rk")))
    val heavyKeys = prefixes.groupBy(col("source"), col("s"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= heavyListThreshold)
      .select(col("source"), col("s"), lit(true).as("__heavy"))
    val flagged = prefixes.join(broadcast(heavyKeys), Seq("source", "s"), "left")
    // Candidate filters (exact — verification still decides): LENGTH
    // (jac ≤ min/max ⇒ min(na,nb) ≥ t·max(na,nb)) and the PPJoin
    // POSITIONAL filter (Xiao et al., WWW 2008): sharing the element at
    // 1-based frequency-order positions (pa, pb) bounds the overlap by
    // 1 + min(na − pa, nb − pb), while jac ≥ t needs overlap ≥
    // ⌈t·(na+nb)/(1+t)⌉ — near-dup-heavy corpora prune most candidate
    // occurrences before the verify join ever materializes them.
    // BOTH filters run epsilon-slack: verification compares the float
    // jac >= t, so prune predicates must never lose to last-ulp noise
    // at exact-boundary pairs (jac == t) — slack only admits a few extra
    // candidates, which verification rejects. The jac >= t overlap bound
    // is used in product form (ub·(1+t) >= t·(na+nb)): no ceil, no
    // division, one rounding per side.
    // Both filters as NATIVE column predicates (r11, guide §4.1 /
    // "eliminate Scala closures in the hot path"): the r10 shape ran a
    // Scala pair-generator UDF over collect_list buffers on the light
    // path and a per-pair survives() UDF on the heavy path — every
    // candidate occurrence paid Row decoding and boxed tuple
    // allocation outside codegen. The arithmetic below is the SAME
    // IEEE double chain the Scala closure evaluated (int min/max →
    // double multiply/add in the same order), so the surviving
    // candidate set is bit-identical; it now runs inside whole-stage
    // codegen on both paths.
    def survivesNative(n1: Column, p1: Column, n2: Column, p2: Column): Column = {
      val eps = lit(1e-9)
      val ub = lit(1.0) + least(n1 - p1, n2 - p2).cast("double")
      (least(n1, n2).cast("double") + eps >=
        greatest(n1, n2).cast("double") * lit(threshold)) &&
        (ub * lit(1.0 + threshold) + eps >=
          lit(threshold) * (n1 + n2).cast("double"))
    }
    def side(df: DataFrame, suffix: String): DataFrame =
      df.select(col("source"), col("s"), col("doc_id").as(s"id$suffix"),
        col("n").as(s"n$suffix"), col("rk").as(s"p$suffix"))
    // LIGHT lists: candidate pairs per POSTING LIST via the plain
    // self-equi-join on (source, element) — each key's quadratic
    // emission still happens inside one task streaming over the
    // joined group (input bounded by heavyListThreshold rows), but
    // every pair flows through codegen instead of a Scala builder.
    val light = flagged.filter(col("__heavy").isNull)
    val lightCands = side(light, "1").join(side(light, "2"), Seq("source", "s"))
      .filter(col("id1") < col("id2") &&
        survivesNative(col("n1"), col("p1"), col("n2"), col("p2")))
      .select(col("id1"), col("id2"))
    // HEAVY lists: scatter/replicate self-join — same pairs (id1 < id2
    // keeps each unordered pair once; filters match the light path),
    // quadratic WORK spread over `salt` tasks instead of one
    val heavy = flagged.filter(col("__heavy").isNotNull)
    val heavyCands = Salting.saltedJoin(
      side(heavy, "1"), side(heavy, "2"),
      Seq("source", "s"), scatterCols = Seq(col("id1")), salt = salt)
      .filter(col("id1") < col("id2") &&
        survivesNative(col("n1"), col("p1"), col("n2"), col("p2")))
      .select(col("id1"), col("id2"))
    val candidates = lightCands.unionByName(heavyCands).distinct()
    candidates
      .join(docs.select(col("doc_id").as("id1"), col("sh").as("s1")), Seq("id1"))
      .join(docs.select(col("doc_id").as("id2"), col("sh").as("s2")), Seq("id2"))
      // barrier: verification must touch each candidate's arrays ONCE
      // (see charShingleAllPairs for the inlining trap)
      .withColumn("inter", graft.functions.CollapseBarrier(
        size(array_intersect(col("s1"), col("s2")))))
      .withColumn("jac", col("inter").cast("double") /
        (size(col("s1")) + size(col("s2")) - col("inter")))
      .filter(col("jac") >= threshold)
      .select(col("id1"), col("id2"), col("jac"))
      // sorted=false for INTERMEDIATE consumers (edge relations feeding
      // components, incremental-dedup attribution): the single-partition
      // orderedResult tail is for registry outputs a human reads — a
      // corpus-sized pair set funneled through one task mid-pipeline is
      // the wall at 100 TB (r7 review)
      .transform(df => if (sorted) df.orderedResult(col("id1"), col("id2"))
                       else df)
  }

  /** The persisted artifact of the INCREMENTAL dedup discipline
    * (mirrors the reference's prediction-basis skip + watermark resume,
    * `/root/reference/src/importer/scheduled_predictions_importer.rs:81-99`
    * — never re-derive what a previous run already computed): the index
    * side's per-element document frequencies and its frequency-ranked
    * prefix entries. Both are plain relations — a deployment writes
    * them ONCE per corpus snapshot (CorpusStore's bucketed parquet
    * layout fits: key by element for `entries`, so a probe co-locates)
    * and every incoming batch reads them back instead of re-deriving
    * the corpus side. `entries` columns: (source, s, id_index, n_i,
    * p_i); `freq`: (source, s, f, nf) where nf is the token's PREFIX
    * posting-list length — precomputed at build time so the per-batch
    * probe never aggregates the corpus-scale entries relation to find
    * its heavy keys; `arrays`: (doc_id, sh) — the verification lookup
    * (candidates resolve to full element arrays by doc_id, so key it
    * by doc_id in the bucketed layout). */
  final case class PrefixIndex(freq: DataFrame, entries: DataFrame,
                               arrays: DataFrame)

  /** Build the [[PrefixIndex]] for `indexArrays` (doc_id, source, sh:
    * array of DISTINCT elements) at `threshold` — each doc keeps its
    * n − ⌈t·n⌉ + 1 rarest elements under the (frequency, element)
    * total order, exactly as [[prefixSimilarityJoin]] does. Entries are
    * checkpoint-materialized here: the build consumes them twice (the
    * nf statistics pass) and every probe consumes them again — and a
    * deployment writes THIS materialized relation to parquet. */
  def buildPrefixIndex(indexArrays: DataFrame, threshold: Double): PrefixIndex = {
    val idx = indexArrays.withColumn("n", size(col("sh")))
    val exploded = idx.select(col("source"), col("doc_id"), col("n"),
      explode(col("sh")).as("s"))
    // every index relation is MATERIALIZED at build: freq has three
    // downstream consumers (entries build, probe ranking, heavy-key
    // filter — the last one broadcast, which would otherwise recompute
    // the corpus-scale explode→groupBy on the driver's behalf per probe)
    val freq0 = Checkpoints.truncate(exploded.groupBy(col("source"), col("s"))
      .agg(count(lit(1)).as("f")))
    val prefixLen = (col("n") - ceil(col("n") * threshold - 1e-9) + 1).cast("int")
    val entries = Checkpoints.truncate(
      exploded.join(freq0, Seq("source", "s"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("f"), col("s"))))
        .filter(col("rk") <= prefixLen)
        .select(col("source"), col("s"), col("doc_id").as("id_index"),
          col("n").as("n_i"), col("rk").as("p_i")))
    val nf = entries.groupBy(col("source"), col("s"))
      .agg(count(lit(1)).as("nf"))
    PrefixIndex(
      Checkpoints.truncate(freq0.join(nf, Seq("source", "s"), "left")
        .select(col("source"), col("s"), col("f"),
          coalesce(col("nf"), lit(0L)).as("nf"))),
      entries,
      indexArrays.select(col("doc_id"), col("sh")))
  }

  /** ASYMMETRIC prefix-filtered Jaccard join: verified pairs
    * (id_index, id_probe, jac ≥ t) between an INDEX corpus and a PROBE
    * batch — without ever generating an index×index candidate. This is
    * the cost shape incremental dedup needs at 100 TB: the per-batch
    * work is (probe prefix entries) ⋈ (index posting lists), linear in
    * the batch for a fixed corpus, while the symmetric union shape's
    * candidate volume tracks the CORPUS pair density (generated and
    * discarded — the r7 verdict's one weak plan).
    *
    * Correctness: the prefix-filter theorem needs one total order
    * COMMON to both docs of a pair. Here it is (index-side frequency,
    * element) — the frozen, persistable order; probe elements the index
    * has never seen get f = 0 (rarest — they can't produce index
    * matches anyway, so ranking them first only shortens the effective
    * probe prefix). Any common order yields a candidate SUPERSET of the
    * true pairs and verification is exact, so the output equals the
    * symmetric join's cross-side slice (spec-pinned).
    *
    * Candidate pruning mirrors [[prefixSimilarityJoin]]: the length
    * filter and the PPJoin positional filter, both epsilon-slack, both
    * codegen'd column predicates (the asymmetric join needs no
    * interpreted per-list pair generator — the two-relation equi-join
    * IS the candidate generator). Skew guard: an element heavy on
    * EITHER side (≥ `heavyListThreshold` prefix entries) routes through
    * [[Salting.saltedJoin]] — probe side scattered, index side
    * replicated — so one boilerplate element cannot wall a task; the
    * two paths partition the element space, so their union is exactly
    * the plain join's candidate set.
    *
    * Preconditions: `sh` arrays hold DISTINCT elements; the index was
    * built at a threshold ≤ this call's `threshold` (a longer prefix
    * only admits extra candidates — verification rejects them). */
  def prefixProbeJoin(index: PrefixIndex, probeArrays: DataFrame,
                      threshold: Double,
                      heavyListThreshold: Int = 4096,
                      salt: Int = 16,
                      batchProbe: Boolean = false): DataFrame = {
    val prb = probeArrays.withColumn("n", size(col("sh")))
    val prefixLen = (col("n") - ceil(col("n") * threshold - 1e-9) + 1).cast("int")
    // probe prefixes under the INDEX's frozen element order (f = 0 for
    // unseen elements); the index side is already materialized, so only
    // the probe explode→rank pipeline runs per batch. Truncated for the
    // OFFLINE shape's three consumers (heavy count, light join, salted
    // join); in batchProbe mode there is exactly ONE consumer (the
    // broadcast below), and a streaming sink's scarce resource is
    // driver JOB COUNT — a checkpoint job per batch for a single-use
    // relation is pure scheduler pressure (r10 task #1)
    val prbPrefixRaw =
      prb.select(col("source"), col("doc_id"), col("n"),
          explode(col("sh")).as("s"))
        .join(index.freq, Seq("source", "s"), "left")
        .withColumn("f", coalesce(col("f"), lit(0L)))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("f"), col("s"))))
        .filter(col("rk") <= prefixLen)
        .select(col("source"), col("s"), col("doc_id").as("id_probe"),
          col("n").as("n_p"), col("rk").as("p_p"))
    val prbPrefix =
      if (batchProbe) prbPrefixRaw else Checkpoints.truncate(prbPrefixRaw)
    // entries are consumed twice (both join paths) but NOT aggregated
    // or truncated here: heavy keys come from the index's PRECOMPUTED
    // nf statistics plus a batch-sized probe count — the per-batch cost
    // must never include a corpus-scale aggregate (build time owns
    // that; see [[buildPrefixIndex]])
    val idxPrefix = index.entries
    // length + PPJoin positional filters, epsilon-slack (see
    // prefixSimilarityJoin — verification decides boundary pairs)
    def pruned(df: DataFrame): DataFrame = df
      .filter(least(col("n_i"), col("n_p")).cast("double") + 1e-9 >=
        greatest(col("n_i"), col("n_p")).cast("double") * threshold)
      .filter((lit(1.0) +
          least(col("n_i") - col("p_i"), col("n_p") - col("p_p"))
            .cast("double")) * (1.0 + threshold) + 1e-9 >=
        (col("n_i") + col("n_p")).cast("double") * threshold)
    // batchProbe (the streaming-sink shape, r10 verdict task #1): the
    // probe side is one micro-batch — BOUNDED by rate×trigger, so its
    // prefix relation and the candidate set BROADCAST, and the
    // corpus-scale index relations are only ever SCANNED map-side,
    // never shuffled. A broadcast join has no per-key task walls
    // (nothing partitions by the join key), so the heavy-key salting
    // below is POINTLESS here — skip its aggregate and its branch
    // outright; the plain join is the same result set by definition
    // (the two paths partition the element space). Without batchProbe
    // (the offline q80/q84 shape) the probe side can be corpus-sized
    // and the shuffle + salting plans are right.
    val cands =
      if (batchProbe)
        pruned(idxPrefix.join(broadcast(prbPrefix), Seq("source", "s")))
          .select(col("id_index"), col("id_probe")).distinct()
      else {
        val heavyKeys = index.freq
          .filter(col("nf") >= heavyListThreshold)
          .select(col("source"), col("s"))
          .unionByName(prbPrefix.groupBy(col("source"), col("s"))
            .agg(count(lit(1)).as("__np"))
            .filter(col("__np") >= heavyListThreshold)
            .select(col("source"), col("s")))
          .distinct()
          .select(col("source"), col("s"), lit(true).as("__heavy"))
        val iF = idxPrefix.join(broadcast(heavyKeys), Seq("source", "s"), "left")
        val pF = prbPrefix.join(broadcast(heavyKeys), Seq("source", "s"), "left")
        val lightC = pruned(
          pF.filter(col("__heavy").isNull).drop("__heavy")
            .join(iF.filter(col("__heavy").isNull).drop("__heavy"),
              Seq("source", "s")))
          .select(col("id_index"), col("id_probe"))
        // salted path: SCATTER the index side (the corpus-scale one — its
        // hot lists spread over `salt` tasks), REPLICATE the batch side
        // (replicating the small relation is the cheap direction)
        val heavyC = pruned(Salting.saltedJoin(
            iF.filter(col("__heavy").isNotNull).drop("__heavy"),
            pF.filter(col("__heavy").isNotNull).drop("__heavy"),
            Seq("source", "s"), scatterCols = Seq(col("id_index")), salt = salt))
          .select(col("id_index"), col("id_probe"))
        lightC.unionByName(heavyC).distinct()
      }
    // verification: each candidate touches both full arrays ONCE
    // (CollapseBarrier — see charShingleAllPairs' inlining trap);
    // |union| = n_i + n_p − inter for distinct arrays. Join ORDER and
    // STRATEGY are deliberate (measured 120→21 s on a 35M-candidate
    // stress corpus): the INDEX side joins first, while the candidate
    // stream is still two bare ids — a probe-side-first join would drag
    // the batch's array payload through the index join's shuffle — and
    // carries a shuffle_hash hint: sort-merge would SORT the candidate
    // stream (the dominant cost; the index's per-partition hash build
    // is bounded by shuffle parallelism), and the parquet-backed
    // index's size estimate defeats auto-broadcast. The batch side is
    // left to AQE: small batches broadcast, huge ones shuffle.
    val verified =
      if (batchProbe)
        // candidates are bounded by the batch's own collision volume:
        // broadcast them against the index arrays (map-side scan — the
        // per-batch cost must never shuffle the corpus), then the
        // batch arrays (also bounded) broadcast too
        index.arrays.select(col("doc_id").as("id_index"),
            col("sh").as("s_i"))
          .join(broadcast(cands), Seq("id_index"))
          .join(broadcast(probeArrays.select(col("doc_id").as("id_probe"),
            col("sh").as("s_p"))), Seq("id_probe"))
      else cands
        .join(index.arrays.select(col("doc_id").as("id_index"),
          col("sh").as("s_i")).hint("shuffle_hash"), Seq("id_index"))
        .join(probeArrays.select(col("doc_id").as("id_probe"),
          col("sh").as("s_p")), Seq("id_probe"))
    verified
      .withColumn("inter", graft.functions.CollapseBarrier(
        size(array_intersect(col("s_i"), col("s_p")))))
      .withColumn("jac", col("inter").cast("double") /
        (size(col("s_i")) + size(col("s_p")) - col("inter")))
      .filter(col("jac") >= threshold)
      .select(col("id_index"), col("id_probe"), col("jac"))
  }

  /** [[prefixProbeJoin]] over raw text documents (doc_id, text) —
    * builds the index in-pass. The one-shot convenience form; a real
    * incremental deployment builds the [[PrefixIndex]] once per corpus
    * snapshot and calls the index overload per batch. */
  def tokenProbeJoin(indexDocs: DataFrame, probeDocs: DataFrame,
                     threshold: Double,
                     heavyListThreshold: Int = 4096,
                     salt: Int = 16): DataFrame =
    prefixProbeJoin(buildPrefixIndex(tokenArrays(indexDocs), threshold),
      tokenArrays(probeDocs), threshold, heavyListThreshold, salt)

  /** (doc_id, text) → the CROSS-SOURCE distinct-token array relation
    * (doc_id, source = "all", sh) the corpus-block screens key on —
    * q80's single-block shape. Shared by [[tokenProbeJoin]] and the
    * streaming index-maintenance sink
    * ([[graft.streaming.DocStream.prefixIndexSink]]). */
  private[graft] def tokenArrays(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), lit("all").as("source"),
      array_distinct(tokens(col("text"))).as("sh"))
}
