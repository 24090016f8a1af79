package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import QueryDef.OrderedResultOps

/** Approximate-nearest-neighbor search over the embeddings table.
  * q26 (TextQueries) is the brute-force baseline; this battery adds the
  * scale path: an IVF-style index — partition vectors into coarse cells,
  * probe only the nearest cell(s). Cells here are the `label` column
  * standing in for k-means cell ids; the centroid math (posexplode +
  * per-dimension avg -> codegen'd hash aggregate) is exactly what a k-means
  * assignment step runs at scale, and `nprobe` controls the recall/cost
  * trade-off. */
object AnnQueries {

  /** Native compiled loop (graft.functions.VecDot) — bit-identical to the
    * `aggregate(zip_with(...))` fold it replaced, which ran interpreted. */
  def dot(x: Column, y: Column): Column = graft.functions.VecDot(x, y)

  /** Per-cell centroids: one row per label, centroid as Array[Double].
    * posexplode + groupBy(label, pos) is a single shuffle of (rows x dim)
    * scalar values — the layout columnar engines want, no array UDAF. */
  def centroids(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("label", "pos").agg(avg(col("v")).as("m"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("cm"))
      .select(col("label"), transform(col("cm"), _.getField("m")).as("centroid"))

  /** IVF search over an arbitrary cell assignment `(vec_id, cell)`: rank
    * cells by centroid cosine against the probe, then brute-force only the
    * top `nprobe` cells. Centroids are derived from the assignment itself
    * (k × dim — broadcast-sized by definition). */
  def ivfSearchCells(embeddings: DataFrame, cells: DataFrame, probe: DataFrame,
                     k: Int = 10, nprobe: Int = 1): DataFrame = {
    val e = embeddings.select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("v"))
      .join(cells, Seq("vec_id"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
    val cents = e.select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("cell", "pos").agg(avg(col("x")).as("m"))
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("cm"))
      .select(col("cell"), transform(col("cm"), _.getField("m")).as("centroid"))
    val p = probe.select(transform(col("embedding"), _.cast("double")).as("pv"))
      .withColumn("pnorm", sqrt(dot(col("pv"), col("pv"))))
    val cellRank = cents.crossJoin(broadcast(p))
      .withColumn("cell_sim", dot(col("centroid"), col("pv")) /
        (sqrt(dot(col("centroid"), col("centroid"))) * col("pnorm")))
      .orderBy(col("cell_sim").desc)
      .limit(nprobe)
      .select("cell")
    e.join(broadcast(cellRank), Seq("cell")) // prune to probed cells
      .crossJoin(broadcast(p))
      .withColumn("cos_sim", round(dot(col("v"), col("pv")) / (col("norm") * col("pnorm")), 6))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .select(col("vec_id"), col("cos_sim"))
      .limit(k)
  }

  /** IVF search with the `label` column as the coarse cells (the q39
    * bench shape: cells are pre-assigned, as in a labeled corpus). */
  def ivfSearch(embeddings: DataFrame, probe: DataFrame,
                k: Int = 10, nprobe: Int = 1): DataFrame =
    ivfSearchCells(embeddings,
      embeddings.select(col("vec_id"), col("label").as("cell")), probe, k, nprobe)

  /** The REAL IVF: coarse cells from [[kmeansCells]] (Lloyd quantizer),
    * probed like any IVF index — `label` is no longer a stand-in. */
  def ivfSearchKmeans(embeddings: DataFrame, probe: DataFrame,
                      k: Int = 10, nprobe: Int = 1,
                      kCells: Int = 8, iters: Int = 3): DataFrame =
    ivfSearchCells(embeddings, kmeansCells(embeddings, kCells, iters),
      probe, k, nprobe)

  /** Random-hyperplane (sign) LSH signatures: `planes` deterministic
    * pseudo-random hyperplanes, weight w(plane, dim) derived from xxhash64
    * mapped into [-1, 1]; bit j of the signature = sign of the projection
    * onto plane j. Cosine-similar vectors agree on most sign bits, so
    * equal signatures bucket near neighbours.
    *
    * Shape: posexplode the vector (rows × dim scalars), broadcast-join the
    * (planes × dim) weight table, one partial-agg shuffle keyed by
    * (vec_id, plane) — the same columnar layout as [[centroids]]; no HOF
    * lambdas (they run interpreted), no UDFs. */
  def signSignatures(embeddings: DataFrame, planes: Int = 16): DataFrame = {
    val spark = embeddings.sparkSession
    val planeIds = spark.range(planes).toDF("plane")
    val exploded = embeddings
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
    // weight in [-1, 1], deterministic content hash — retry/cluster-layout
    // safe, same rationale as Salting's scatter
    val w = pmod(xxhash64(col("plane"), col("pos")), lit(2001L)).cast("double") / 1000.0 - 1.0
    exploded
      .crossJoin(broadcast(planeIds))
      .withColumn("w", w)
      .groupBy(col("vec_id"), col("plane"))
      .agg(sum(col("v") * col("w")).as("proj"))
      .groupBy(col("vec_id"))
      .agg(sum(when(col("proj") > 0,
        expr("shiftleft(CAST(1 AS BIGINT), CAST(plane AS INT))"))
        .otherwise(0L)).as("signature"))
  }

  /** Portable sign-LSH signatures (q71): the [[signSignatures]]
    * construction with xxhash64 weights replaced by a cross-engine hash
    * family AND the projection made EXACT INTEGER arithmetic:
    * components quantize as floor(x · 2²⁰) (float→double is exact and
    * 2²⁰ is a power of two, so the floor is bit-identical on both
    * engines), weights are ((plane·4096 + pos + 1)·2654435761 mod p)
    * mod 2001 − 1000 ∈ [−1000, 1000]. The projection sign — the only
    * thing the signature keeps — is then immune to summation order, so
    * DuckDB reproduces every bit without float caveats. Same
    * posexplode + broadcast-planes + two keyed aggregations shape. */
  def signSignaturesPortable(embeddings: DataFrame, planes: Int = 16): DataFrame = {
    val spark = embeddings.sparkSession
    val planeIds = spark.range(planes).toDF("plane")
    embeddings
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .crossJoin(broadcast(planeIds))
      .withColumn("xi", floor(col("v").cast("double") * 1048576.0).cast("long"))
      .withColumn("wi",
        ((col("plane") * 4096 + col("pos") + 1) * lit(2654435761L))
          % lit(1000000007L) % 2001L - 1000L)
      .groupBy(col("vec_id"), col("plane"))
      .agg(sum(col("xi") * col("wi")).as("proj"))
      .groupBy(col("vec_id"))
      .agg(sum(when(col("proj") > 0,
        expr("shiftleft(CAST(1 AS BIGINT), CAST(plane AS INT))"))
        .otherwise(0L)).as("signature"))
  }

  /** Sign-LSH search: candidates share the probe's signature bucket or any
    * bucket at hamming distance 1 (multi-probe, the recall knob analogous
    * to IVF's nprobe); exact cosine re-ranks the candidates. */
  def lshSearch(embeddings: DataFrame, probe: DataFrame,
                k: Int = 10, planes: Int = 16,
                signatures: (DataFrame, Int) => DataFrame = signSignatures)
  : DataFrame = {
    val sigs = signatures(embeddings, planes)
    val probeSig = signatures(probe.withColumn("vec_id", lit(-1L)), planes)
      .select(col("signature").as("psig"))
    // probe bucket + the `planes` hamming-1 neighbours: tiny literal table
    val probed = probeSig.select(explode(array(
      col("psig") +: (0 until planes).map(j =>
        col("psig").bitwiseXOR(lit(1L << j))): _*)).as("signature"))
    val p = probe.select(transform(col("embedding"), _.cast("double")).as("pv"))
      .withColumn("pnorm", sqrt(dot(col("pv"), col("pv"))))
    val e = embeddings.select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
    sigs.join(broadcast(probed), Seq("signature")) // prune to probed buckets
      .join(e, Seq("vec_id"))
      .crossJoin(broadcast(p))
      .withColumn("cos_sim", round(dot(col("v"), col("pv")) / (col("norm") * col("pnorm")), 6))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .select(col("vec_id"), col("cos_sim"))
      .limit(k)
  }

  /** Lloyd's k-means over the exploded (vec_id, pos, x) layout — the real
    * IVF coarse quantizer ([[ivfSearch]]'s `label` cells are a stand-in).
    * Deterministic: init centroids are the first `k` vectors by vec_id;
    * assignment argmin uses `min(struct(score, cell))` (lexicographic
    * tie-break on cell id). Each iteration is one broadcast join + two
    * keyed aggregations — no interpreted lambdas, centroids stay
    * dimension-sized (k × dim) and broadcast.
    *
    * Returns (vec_id, cell). */
  def kmeansCells(embeddings: DataFrame, k: Int = 8, iters: Int = 3): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = embeddings.select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("v"))
    // the exploded layout is re-scanned every iteration: persist it (MLlib
    // does the same for its training input; on a cluster this is the
    // cached feature matrix)
    val exploded = e
      .select(col("vec_id"), posexplode(col("v")).as(Seq("pos", "x")))
      .persist()
    // init centroids = first k vectors by vec_id. Centroids are
    // driver-sized BY DEFINITION (k x dim) — collecting them is the
    // standard k-means shape (MLlib ships centroids to the driver every
    // iteration), and it avoids a partitionless global window.
    val init = e.orderBy(col("vec_id")).limit(k).collect()
      .iterator.zipWithIndex.map { case (r, i) =>
        (i + 1, r.getAs[scala.collection.Seq[Double]]("v").toSeq)
      }.toSeq.toDF("cell", "v")
    // cycle: each Lloyd step's checkpoint data is deleted once the next
    // step supersedes it (the cents/assigned interleave satisfies the
    // cycle contract: each var is last read while materializing the next
    // truncate's input) — the job retires one directory, not 2·iters+2
    val ckpt = Checkpoints.cycle()
    var cents = ckpt.truncate(init
      .select(col("cell"), posexplode(col("v")).as(Seq("pos", "w"))))
    var assigned: DataFrame = null
    def doAssign(): DataFrame = {
      // argmin_c |v - c|^2 = argmin_c (|c|^2 - 2 v·c); |v|^2 is constant
      val cnorm = cents.groupBy(col("cell")).agg(sum(col("w") * col("w")).as("cn"))
      exploded.join(broadcast(cents), Seq("pos"))
        .groupBy(col("vec_id"), col("cell"))
        .agg(sum(col("x") * col("w")).as("dot"))
        .join(broadcast(cnorm), Seq("cell"))
        .groupBy(col("vec_id"))
        .agg(min(struct((col("cn") - lit(2.0) * col("dot")).as("score"),
          col("cell").as("cell"))).as("m"))
        .select(col("vec_id"), col("m.cell").as("cell"))
    }
    // Checkpoints.truncate (eager) after EVERY step: `doAssign` references
    // `cents` twice and `cents` is rebuilt from `assigned`, so without
    // truncation the lineage doubles per Lloyd round — by iteration 3 the
    // plan held ~2^4 copies of the base scan (80.8 s in BENCH_r02; < 2 s
    // checkpointed). With a reliable checkpoint dir set (cluster mode) the
    // rounds persist to fault-tolerant storage; else localCheckpoint.
    for (_ <- 0 until iters) {
      assigned = ckpt.truncate(doAssign())
      cents = ckpt.truncate(assigned.join(exploded, Seq("vec_id"))
        .groupBy(col("cell"), col("pos")).agg(avg(col("x")).as("w")))
    }
    val result = ckpt.truncate(doAssign()) // eager: safe to unpersist below
    exploded.unpersist()
    result
  }

  /** Per-cell inertia of a k-means assignment (Σ|v - c|² by cell) — the
    * convergence diagnostic; also the q52 output. */
  def kmeansInertia(embeddings: DataFrame, assigned: DataFrame): DataFrame = {
    val exploded = embeddings.select(col("vec_id"),
      posexplode(transform(col("embedding"), _.cast("double"))).as(Seq("pos", "x")))
    val cents = assigned.join(exploded, Seq("vec_id"))
      .groupBy(col("cell"), col("pos")).agg(avg(col("x")).as("w"))
    assigned.join(exploded, Seq("vec_id"))
      .join(broadcast(cents), Seq("cell", "pos"))
      .groupBy(col("cell"))
      .agg(count_distinct(col("vec_id")).as("n"),
        round(sum((col("x") - col("w")) * (col("x") - col("w"))), 3).as("inertia"))
      .orderedResult(col("cell"))
  }

  /** The deterministic Lloyd chain as DuckDB CTEs (shared by the q52 and
    * q103 oracles): e (double vectors) → ex (exploded) → c0 (first-k
    * init) → aᵢ (argmin assignment, ties by cell) → cᵢ (per-dim means)
    * … → a{iters+1} (final assignment) → cf (final centroids).
    * Float safety: means/dots differ from Spark only in summation order
    * (last-ulp); assignments sit far from ties on clustered data —
    * verified exact at sf0.001/0.01/0.1. */
  private def kmeansChainSql(k: Int, iters: Int): String =
    kmeansChainSqlK(k.toString, iters)

  /** [[kmeansChainSql]] with the cell count as an arbitrary SQL
    * expression — `"8"` for the pinned q52 quantizer, a scalar subquery
    * over a knob CTE for the corpus-count-derived q103 (r8 verdict task
    * #1). The first-k init is a ROW_NUMBER rank filter (≤ kExpr), which
    * equals the previous ORDER BY/LIMIT form for literal k and admits
    * derived counts without relying on subqueries inside LIMIT. */
  private def kmeansChainSqlK(kExpr: String, iters: Int): String = {
    def assign(cents: String, i: Int) =
      s"""a$i AS (SELECT vec_id, cell FROM (
         |  SELECT d.vec_id, d.cell,
         |    ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY n.cn - 2*d.dot, d.cell) AS rn
         |  FROM (SELECT ex.vec_id, c.cell, SUM(ex.x * c.w) AS dot
         |        FROM ex JOIN $cents c USING (pos) GROUP BY 1, 2) d
         |  JOIN (SELECT cell, SUM(w * w) AS cn FROM $cents GROUP BY 1) n USING (cell))
         |  WHERE rn = 1)""".stripMargin
    def cents(a: Int, name: String) =
      s"""c$name AS (SELECT a.cell, ex.pos, AVG(ex.x) AS w
         |  FROM a$a a JOIN ex USING (vec_id) GROUP BY 1, 2)""".stripMargin
    val steps = (1 to iters).flatMap(i =>
      Seq(assign(s"c${i - 1}", i), cents(i, i.toString))) ++
      Seq(assign(s"c$iters", iters + 1), cents(iters + 1, "f"))
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |dims AS (SELECT unnest(range(1, (SELECT len(v) FROM e LIMIT 1) + 1)) AS pos),
       |ex AS (SELECT vec_id, pos, v[CAST(pos AS INT)] AS x FROM e, dims),
       |c0 AS (SELECT r.cell, ex.pos, ex.x AS w FROM
       |  (SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS INT) AS cell
       |   FROM e) r JOIN ex USING (vec_id) WHERE r.cell <= $kExpr),
       |${steps.mkString(",\n")}""".stripMargin
  }

  /** The whole q52 computation — deterministic-init Lloyd + final-assignment
    * inertia — over [[kmeansChainSql]]; inertia rounded to 3 decimals keeps
    * the hash compare stable across summation-order ulps. */
  private def kmeansOracleSql(k: Int, iters: Int): String =
    s"""WITH ${kmeansChainSql(k, iters)}
       |SELECT a.cell, COUNT(DISTINCT a.vec_id) AS n,
       |  ROUND(SUM((ex.x - cf.w) * (ex.x - cf.w)), 3) AS inertia
       |FROM a${iters + 1} a JOIN ex USING (vec_id) JOIN cf USING (cell, pos)
       |GROUP BY a.cell ORDER BY a.cell""".stripMargin


  /** Exact k-nearest-neighbour JOIN: every vector's `k` nearest
    * neighbours by cosine (the batch primitive under SemDeDup-style
    * curation — q26/q39/q49 answer one probe; this answers ALL of them).
    *
    * Shape: the deliberate EXACT twin — candidate generation is the
    * triangle-blocked all-pairs cover ([[Blocking]]; parallelism
    * blocks(blocks+1)/2 tasks, never #groups), and per-vector selection
    * is the bounded-buffer [[graft.functions.TopK]] aggregator
    * (map-side combined, no rank window, no corpus-wide sort). Each
    * unordered pair is scored ONCE and serves both endpoints. The scale
    * path for huge corpora swaps candidate generation for sign-LSH
    * buckets (the [[lshSearch]] machinery) under the same TopK tail —
    * recall-bounded, spec-pinned against this exact twin.
    *
    * Cosines are emitted as ROUND(cos·10⁶) BIGINTs: integer output
    * (no float dtype caveats in the oracle compare) and the ranking
    * tie-break (scaled cos desc, neighbour id asc) is exactly TopK's
    * order on (value, id). */
  /** Normed double vectors, zero-norm rows EXCLUDED: a zero vector has no
    * defined cosine, and its NaN would reach the scaled-integer cast with
    * engine-dependent semantics (Spark cast vs DuckDB error — r7 review).
    * Shared prologue of the kNN joins. */
  private[operators] def withNorms(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
      .filter(col("norm") > 0)

  /** Shared ranked tail of the kNN joins: per-endpoint bounded TopK over
    * `(vec_id, c, nb)` scored candidates → (vec_id, rk, nb_id,
    * cos_scaled), deterministically ordered. The UNORDERED form exists
    * for intermediates (r11): a memoized/persisted relation must not
    * freeze a global sort into its cached plan (the edge relations'
    * `sorted = false` discipline) — consumers that join over it would
    * trip the mid-pipeline-global-sort audit, and inline Catalyst
    * sort elimination cannot reach a cached plan. */
  private def rankedNeighboursUnordered(scored: DataFrame, k: Int): DataFrame = {
    val topk = graft.functions.TopK.longPairUdaf(k)
    scored.groupBy(col("vec_id"))
      .agg(topk(col("c"), col("nb")).as("top"))
      .select(col("vec_id"), posexplode(col("top")).as(Seq("i", "e")))
      .select(col("vec_id"), (col("i") + 1).as("rk"),
        col("e._2").as("nb_id"), col("e._1").as("cos_scaled"))
  }

  private def rankedNeighbours(scored: DataFrame, k: Int): DataFrame =
    rankedNeighboursUnordered(scored, k).orderedOutput(col("vec_id"), col("rk"))

  /** Triangle-blocked scored pairs over a normed relation (shared by
    * [[knnJoin]] and [[semDeDup]]): every unordered within-group pair
    * scored ONCE as (ida, idb, c = ROUND(cos·10⁶) BIGINT). `groupCols`
    * empty = global all-pairs; non-empty (e.g. the k-means cell) bounds
    * pairing to the group. The barrier keeps CollapseProject from
    * re-inlining the dot product per downstream consumer. */
  private def scoredPairs(e: DataFrame, groupCols: Seq[String],
                          blocks: Int): DataFrame = {
    val (lft, rgt) = Blocking.triangleSides(e, col("vec_id"), blocks)
    val keys = groupCols ++ Seq("__bi", "__bj")
    val a = lft.select(keys.map(col) ++ Seq(col("vec_id").as("ida"),
      col("v").as("va"), col("norm").as("na")): _*)
    val b = rgt.select(keys.map(col) ++ Seq(col("vec_id").as("idb"),
      col("v").as("vb"), col("norm").as("nb")): _*)
    a.join(b, keys)
      .filter(Blocking.pairPredicate(col("ida"), col("idb")))
      .withColumn("c", graft.functions.CollapseBarrier(
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")) * 1e6)
          .cast("long")))
      .select(col("ida"), col("idb"), col("c"))
  }

  def knnJoin(embeddings: DataFrame, k: Int = 3, blocks: Int = 8): DataFrame =
    knnJoinUnorderedShared(embeddings, k, blocks)
      .orderedOutput(col("vec_id"), col("rk"))

  /** [[knnJoin]] without the ordered tail, through the registry
    * shared-relation cache (r11): q92 and the q106 recall report
    * consume the IDENTICAL exact kNN relation — the all-pairs scoring
    * is the dominant cost of both, and a cold registry pass ran it
    * twice. Keyed by the embeddings plan + (k, blocks); the ordered
    * tail stays OUTSIDE the memo so the persisted plan carries no
    * global sort (see [[rankedNeighboursUnordered]]). */
  private[operators] def knnJoinUnorderedShared(embeddings: DataFrame,
                                                k: Int = 3,
                                                blocks: Int = 8): DataFrame =
    SharedRelations("knnexact", embeddings, k, blocks) {
      val pairs = scoredPairs(withNorms(embeddings), Seq.empty, blocks)
      rankedNeighboursUnordered(pairs.select(explode(array(
          struct(col("ida").as("vec_id"), col("idb").as("nb"), col("c")),
          struct(col("idb").as("vec_id"), col("ida").as("nb"), col("c")))).as("m"))
        .select(col("m.vec_id").as("vec_id"), col("m.c").as("c"),
          col("m.nb").as("nb")), k)
    }

  /** The LSH-bucketed kNN join — [[knnJoin]]'s scale path: candidates are
    * bucket-mates under sign-LSH signatures with hamming-1 multiprobe on
    * the PROBE side, scored exactly and selected through the same bounded
    * TopK tail. Candidate volume is Σ bucket², not n² — the shape that
    * survives a corpus too big to all-pairs — at the price of recall
    * (missed neighbours differ in > 1 signature bit; raise `planes`
    * probing or band like q30 to trade further).
    *
    * An ordered pair (a, b) meets at EXACTLY one bucket (b's signature
    * is either a's or one flip of it — mutually exclusive cases), so no
    * distinct() is needed before the aggregate. Degenerate corpora
    * funnel into few buckets like any bucket join — the q30 salting
    * guard applies if registered against such data.
    *
    * With `signatures = signSignaturesPortable` every stage is
    * cross-engine-exact integer arithmetic, so the WHOLE approximate
    * join — signatures, multiprobe, scores, ranking — has a full DuckDB
    * twin (q93), mirroring the q49 → q71 treatment.
    *
    * Tuning rule (measured by q106 / the r8 sweep in PERF.md): recall
    * is set by how many signature bits a true neighbour pair may
    * disagree on — `probeFlips` is the reach (hamming ≤ flips probing,
    * 1 + P + P(P−1)/2 buckets per probe at flips = 2) and `planes` the
    * bucket granularity. Scale planes with log₂(n) to hold bucket
    * occupancy, then raise flips until q106 clears the recall target —
    * at the bench corpus (planes 8), flips 1 measured 0.19 mean
    * recall@3, flips 2 cleared 0.8. */
  def knnJoinLsh(embeddings: DataFrame, k: Int = 3, planes: Int = 8,
                 signatures: (DataFrame, Int) => DataFrame = signSignatures,
                 probeFlips: Int = 1)
  : DataFrame =
    knnJoinLshUnordered(embeddings, k, planes, signatures, probeFlips)
      .orderedOutput(col("vec_id"), col("rk"))

  private def knnJoinLshUnordered(embeddings: DataFrame, k: Int, planes: Int,
                                  signatures: (DataFrame, Int) => DataFrame,
                                  probeFlips: Int): DataFrame = {
    val e = withNorms(embeddings)
      .join(signatures(embeddings, planes), Seq("vec_id"))
    probeRankUnordered(probeSide(e, planes, probeFlips),
      e.select(col("vec_id").as("idb"), col("v").as("vb"),
        col("norm").as("nb"), col("signature").as("bucket")), k)
  }

  /** [[knnJoinLsh]] at the PORTABLE signature family without the
    * ordered tail, through the registry shared-relation cache (r11):
    * q93 and the q106 recall report consume the IDENTICAL approximate
    * join at the derived (planes, flips = 2) configuration — a cold
    * registry pass signed and bucket-joined the corpus twice. The
    * memo key carries (k, planes, flips); the signature FAMILY is part
    * of the kind string, so a default-family caller can never hit a
    * portable entry. */
  private[operators] def knnJoinLshPortableShared(embeddings: DataFrame,
                                                  k: Int, planes: Int,
                                                  probeFlips: Int): DataFrame =
    SharedRelations("knnlshport", embeddings,
      k * 1000 + planes, probeFlips)(
      knnJoinLshUnordered(embeddings, k, planes, signSignaturesPortable,
        probeFlips))

  /** Multiprobe-explode a signed+normed relation into the probe side of
    * a bucket join: one row per (vector, hamming ≤ `flips` mask). */
  private def probeSide(e: DataFrame, planes: Int, flips: Int): DataFrame =
    e.select(col("vec_id").as("ida"), col("v").as("va"),
      col("norm").as("na"), explode(array(
        probeMasks(planes, flips).map(m =>
          col("signature").bitwiseXOR(lit(m))): _*)).as("bucket"))

  /** The shared LSH-kNN tail ([[knnJoinLsh]] / [[knnProbeLsh]]): bucket
    * equi-join, id-equal exclusion, exact scaled-cosine re-rank, bounded
    * TopK — one definition so a scoring fix (e.g. the r8 silent-wrap
    * class) reaches every caller. */
  private def probeRank(probe: DataFrame, build: DataFrame, k: Int)
  : DataFrame =
    probeRankUnordered(probe, build, k).orderedOutput(col("vec_id"), col("rk"))

  private def probeRankUnordered(probe: DataFrame, build: DataFrame, k: Int)
  : DataFrame =
    rankedNeighboursUnordered(probe.join(build, Seq("bucket"))
      .filter(col("ida") =!= col("idb"))
      .select(col("ida").as("vec_id"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")) * 1e6)
          .cast("long").as("c"),
        col("idb").as("nb")), k)

  /** Probe-only EXACT kNN — the brute yardstick for [[knnProbeLsh]]
    * (the q92 role for the probe split): every query scored against
    * every index vector, |Q|·|I| pairs. CONTRACT: the query batch must
    * be BOUNDED (broadcast-sized — a fixed sample, not a fixed
    * fraction of the corpus); it broadcasts, so the "all-pairs" is one
    * map-side pass over the index — linear in |I|, no shuffle of the
    * corpus. A corpus-proportional query set would blow the broadcast
    * at scale — the registered q131 bounds its sample by construction
    * (`vec_id % 17 = 0 AND vec_id < 17·512` → ≤ 512 queries at any
    * corpus size). Same output shape as [[knnProbeLsh]]. */
  def knnProbeExact(vecs: DataFrame, queries: DataFrame, k: Int = 3)
  : DataFrame = {
    val build = withNorms(vecs).select(col("vec_id").as("idb"),
      col("v").as("vb"), col("norm").as("nb"))
    val probe = withNorms(queries).select(col("vec_id").as("ida"),
      col("v").as("va"), col("norm").as("na"))
    rankedNeighbours(build.crossJoin(broadcast(probe))
      .filter(col("ida") =!= col("idb"))
      .select(col("ida").as("vec_id"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")) * 1e6)
          .cast("long").as("c"),
        col("idb").as("nb")), k)
  }

  /** Per-query recall of [[knnProbeLsh]] against [[knnProbeExact]] —
    * the q106 diagnostic for the PROBE split (q131): certifies the
    * recall of the configuration a maintained index actually serves
    * (index-derived planes, one-sided multiprobe). `queries` inherits
    * [[knnProbeExact]]'s bounded-batch contract. `signatures` must be
    * the family the certified store signs with — [[signSignatures]]
    * (the [[graft.streaming.AnnStream]] default) unless certifying the
    * portable path; the registry passes the portable family because
    * the DuckDB oracle re-derives it. Same one-pass left-join rollup
    * as [[knnRecall]]. */
  def knnProbeRecall(index: DataFrame, queries: DataFrame, planes: Int,
                     k: Int = 3, probeFlips: Int = 2,
                     signatures: (DataFrame, Int) => DataFrame =
                       signSignatures): DataFrame = {
    val exact = knnProbeExact(index, queries, k)
      .select(col("vec_id"), col("nb_id"))
    val approx = knnProbeLsh(signatures(index, planes), index,
      planes, queries, k, probeFlips, signatures)
      .select(col("vec_id"), col("nb_id"), lit(1).as("hit"))
    exact.join(approx, Seq("vec_id", "nb_id"), "left")
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_exact"), count(col("hit")).as("n_hit"))
      .select(col("vec_id"), col("n_exact"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_exact")).as("recall"))
      .orderedOutput(col("vec_id"))
  }

  /** Probe-only sign-LSH kNN: score QUERY vectors against a PREBUILT
    * `(sig, vecs)` index under the index's frozen `planes` — the q80
    * probe-only discipline applied to ANN. The index side is read
    * as-is (bucket = its stored signature, never multiprobe-exploded:
    * index×index candidates cannot form); the query side carries the
    * hamming ≤ `probeFlips` masks, and each (query, index) pair meets
    * at exactly one probed bucket ([[probeMasks]] distinctness), so no
    * dedup is needed before the exact-cosine re-rank and bounded TopK.
    * Per query batch the cost is the batch's own candidate volume —
    * the corpus is neither re-signed nor reshuffled. Query signatures
    * MUST use the same `signatures` family the index was built with.
    *
    * ID CONTRACT: query ids share the index's `vec_id` namespace. An
    * id-equal (query, index) pair is excluded — so a stored vector
    * probing as its own query returns its true neighbours, not itself
    * (the natural re-query semantics over a maintained
    * [[graft.streaming.AnnStream]] store). Callers whose queries are
    * numbered independently of the index MUST keep the ranges disjoint,
    * or a colliding id would silently drop a genuine neighbour.
    * Output: (vec_id = query id, rk, nb_id, cos_scaled). */
  def knnProbeLsh(sig: DataFrame, vecs: DataFrame, planes: Int,
                  queries: DataFrame, k: Int = 3, probeFlips: Int = 1,
                  signatures: (DataFrame, Int) => DataFrame = signSignatures)
  : DataFrame = {
    val build = withNorms(vecs).join(sig, Seq("vec_id"))
      .select(col("vec_id").as("idb"), col("v").as("vb"),
        col("norm").as("nb"), col("signature").as("bucket"))
    probeRank(probeSide(withNorms(queries)
      .join(signatures(queries, planes), Seq("vec_id")),
      planes, probeFlips), build, k)
  }

  /** Embedding-space benchmark decontamination (q135) — the semantic
    * arm of the decontamination family (q61/q111 exact grams, q133
    * token-Jaccard, this cosine): a training vector is contaminated
    * when some EVAL vector (vec_id of a src0 document — the corpus id
    * contract ties the two tables) sits at scaled cosine ≥ `tauScaled`,
    * the embedding-level leakage a lexical scrub cannot see (a
    * translated or heavily-paraphrased eval item shares no tokens but
    * keeps its embedding). Probe-only sign-LSH under the q130
    * discipline: the train side is signed ONCE at index-derived planes
    * (the geometry a maintained [[graft.streaming.AnnStream]] store
    * freezes — this query is the registry face of decontaminating
    * against such a store) and read as-is; only the dimension-sized
    * eval side multiprobe-explodes (hamming ≤ `probeFlips` masks), so
    * train×train candidates never form and the cost is linear in the
    * corpus. Each (eval, train) pair meets at exactly one probed
    * bucket ([[probeMasks]] distinctness) and the id namespaces are
    * disjoint by the source split, so the per-train rollup needs no
    * dedup. Exact scaled-cosine verification before reporting — false
    * positives impossible, recall is the q131-certified probe recall.
    * Output per contaminated train vector: hit count, the closest eval
    * vector (ties to the smallest eval id) and its scaled cosine. */
  def embedDecontaminate(embeddings: DataFrame, documents: DataFrame,
                         tauScaled: Long = 300000L, probeFlips: Int = 2,
                         signatures: (DataFrame, Int) => DataFrame =
                           signSignatures): DataFrame =
    deconRollup(embedDeconFlags(embeddings, documents, tauScaled,
      probeFlips, signatures))

  /** The eval/train split of the decon family: eval = vectors of src0
    * documents, index = the rest. Both splits broadcast the
    * dimension-sized eval id set — without the hint the anti-join can
    * plan as a sort-merge that shuffles the whole corpus (r10
    * review). */
  private def deconSplit(embeddings: DataFrame, documents: DataFrame)
  : (DataFrame, DataFrame) = {
    val evIds = documents.filter(col("source") === "src0")
      .select(col("doc_id").as("vec_id"))
    (embeddings.join(broadcast(evIds), Seq("vec_id"), "left_anti"),
      embeddings.join(broadcast(evIds), Seq("vec_id"), "left_semi"))
  }

  private def embedDeconFlags(embeddings: DataFrame, documents: DataFrame,
                              tauScaled: Long, probeFlips: Int,
                              signatures: (DataFrame, Int) => DataFrame)
  : DataFrame = {
    val (index, queries) = deconSplit(embeddings, documents)
    val planes = planesFor(index.count())
    indexedDeconFlags(signatures(index, planes), index, planes,
      queries, tauScaled, probeFlips, signatures)
  }

  /** The verified q135 flag relation (vec_id, eval_id, c ≥ τ) at the
    * REGISTERED configuration (portable signatures), shared through the
    * registry relation cache — q135 and the q136 report consume the
    * identical relation, so the corpus is signed and probed once per
    * registry pass (the q133/q134 fuzzyDeconMatches discipline; the
    * memo key is a join of both input lineages so a different corpus
    * or eval split can never hit the cache, and τ/flips/planes ride
    * the integer key slots — exact, no Long truncation). The planes
    * COUNT job runs BEFORE the memo call so the shared-cache lock is
    * never held across a Spark job (r10 review; a cache hit pays one
    * redundant count — the plan-construction-only contract every other
    * memoized build keeps). */
  private[operators] def embedDeconFlagsShared(embeddings: DataFrame,
                                               documents: DataFrame,
                                               tauScaled: Long = 300000L,
                                               probeFlips: Int = 2)
  : DataFrame = {
    val (index, queries) = deconSplit(embeddings, documents)
    val planes = planesFor(index.count())
    SharedRelations("embdecon",
      embeddings.select(col("vec_id"))
        .join(documents.select(col("doc_id"), col("source")),
          col("vec_id") === col("doc_id")),
      math.toIntExact(tauScaled), probeFlips * 1024 + planes) {
      indexedDeconFlags(signSignaturesPortable(index, planes), index,
        planes, queries, tauScaled, probeFlips, signSignaturesPortable)
    }
  }

  /** Per-train-vector rollup of a decon flag relation: hit count, the
    * closest eval vector (ties to the smallest eval id), its cosine —
    * the family's one [[QueryDef.bestMatchRollup]] definition. */
  private def deconRollup(flags: DataFrame): DataFrame =
    QueryDef.bestMatchRollup(flags, "vec_id", "eval_id", "c",
      "n_eval_hits", "best_eval_id", "best_cos_scaled")

  /** [[embedDecontaminate]] against a PREBUILT `(sig, vecs)` index at
    * its frozen `planes` — the form a maintained
    * [[graft.streaming.AnnStream]] store serves directly
    * ([[graft.streaming.AnnStream.deconProbe]]): the store's corpus is
    * never re-signed or reshuffled; an eval suite costs only its own
    * multiprobe candidate volume. ID CONTRACT: eval query ids must be
    * DISJOINT from stored ids (a decon deployment excludes the eval
    * suite from its corpus, as q135's source split does) — a colliding
    * id would be scored like any candidate and could flag a stored
    * vector against itself at cosine 10⁶. `signatures` must be the
    * family the index was signed with. */
  def embedDecontaminateIndexed(sig: DataFrame, vecs: DataFrame,
                                planes: Int, queries: DataFrame,
                                tauScaled: Long = 300000L,
                                probeFlips: Int = 2,
                                signatures: (DataFrame, Int) => DataFrame =
                                  signSignatures): DataFrame =
    deconRollup(indexedDeconFlags(sig, vecs, planes, queries, tauScaled,
      probeFlips, signatures))

  private def indexedDeconFlags(sig: DataFrame, vecs: DataFrame,
                                planes: Int, queries: DataFrame,
                                tauScaled: Long, probeFlips: Int,
                                signatures: (DataFrame, Int) => DataFrame)
  : DataFrame = {
    val build = withNorms(vecs).join(sig, Seq("vec_id"))
      .select(col("vec_id").as("idb"), col("v").as("vb"),
        col("norm").as("nb"), col("signature").as("bucket"))
    probeSide(withNorms(queries)
        .join(signatures(queries, planes), Seq("vec_id")),
        planes, probeFlips)
      .join(build, Seq("bucket"))
      // enforce the documented id contract (eval ids disjoint from
      // stored ids) instead of trusting it: a colliding id would
      // otherwise self-flag a stored vector at cosine 10⁶ and skew
      // the rollup's best-match (r10 advice)
      .filter(col("ida") =!= col("idb"))
      .select(col("idb").as("vec_id"), col("ida").as("eval_id"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")) * 1e6)
          .cast("long").as("c"))
      .filter(col("c") >= tauScaled)
  }

  /** SemDeDup (Abbas et al. 2023) — semantic deduplication by k-means
    * cell: cluster the embedding space with the deterministic Lloyd
    * quantizer ([[kmeansCells]]), then compare vectors ONLY within their
    * cell; a vector is dropped when a within-cell neighbour with cosine
    * ≥ τ and a smaller vec_id exists (deterministic keep-first — the
    * greedy form of the paper's one-per-duplicate-group rule). Output:
    * (vec_id, cell, n_dups, kept) per non-zero-norm vector.
    *
    * This is the algorithm's actual scale argument: the quadratic pair
    * work is confined to cells (production sizes k ∝ √n so cells stay
    * bounded as the corpus grows), and within each cell the self-join is
    * triangle-blocked ([[Blocking]]) so parallelism is cells × B(B+1)/2
    * tasks, never capped at k — the q35/q67 lesson applied to learned
    * cells instead of labels. Cosines are compared as ROUND(cos·10⁶)
    * BIGINTs (the q92 integer-output discipline), so the τ compare is
    * exact on both engines. */
  def semDeDup(embeddings: DataFrame, kCells: Int = 8, iters: Int = 3,
               tauScaled: Long = 300000L, blocks: Int = 4): DataFrame = {
    val cells = kmeansCells(embeddings, kCells, iters)
    val e = withNorms(embeddings).join(cells, Seq("vec_id"))
    val pairs = scoredPairs(e, Seq("cell"), blocks)
      .filter(col("c") >= tauScaled)
      // cross-bucket rows arrive with ids in either order (Blocking doc)
      .select(least(col("ida"), col("idb")).as("id1"),
        greatest(col("ida"), col("idb")).as("id2"))
    val perVec = pairs.select(explode(array(
        struct(col("id1").as("vec_id"), col("id2").as("other")),
        struct(col("id2").as("vec_id"), col("id1").as("other")))).as("m"))
      .select(col("m.vec_id").as("vec_id"), col("m.other").as("other"))
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_dups"), min(col("other")).as("min_nb"))
    e.select(col("vec_id"), col("cell"))
      .join(perVec, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        // NULL min_nb (no neighbour) falls through to kept=1
        when(col("min_nb") < col("vec_id"), 0L).otherwise(1L).as("kept"))
      .orderedOutput(col("vec_id"))
  }

  /** DuckDB twin of [[semDeDup]]: the Lloyd chain ([[kmeansChainSql]])
    * re-derives the cells, then the within-cell pair set and keep-first
    * decision in the same scaled-integer arithmetic. */
  private def semDeDupOracleSql(k: Int, iters: Int, tauScaled: Long): String =
    s"""WITH ${kmeansChainSql(k, iters)},
       |${semDeDupBodySql(iters, tauScaled)}""".stripMargin

  /** [[semDeDupOracleSql]] with the cell count DERIVED from the corpus
    * count by the [[kCellsFor]] rule inside the SQL itself (kcn CTE) —
    * the registered q103 form: the same oracle text is correct at every
    * SF because both engines derive kCells from the data (r8 verdict
    * task #1). */
  private def semDeDupDerivedOracleSql(iters: Int, tauScaled: Long): String =
    s"""WITH kcn AS (SELECT GREATEST(8, CAST(CEIL(SQRT(COUNT(*))) AS INT)) AS kc
       |             FROM embeddings),
       |${kmeansChainSqlK("(SELECT kc FROM kcn)", iters)},
       |${semDeDupBodySql(iters, tauScaled)}""".stripMargin

  /** The pair-set + keep-first tail shared by the pinned and derived
    * semDeDup oracles; expects the Lloyd chain CTEs in scope. */
  private def semDeDupBodySql(iters: Int, tauScaled: Long): String =
    s"""n AS (SELECT vec_id, v, SQRT(list_inner_product(v, v)) AS nm FROM e
       |      WHERE list_inner_product(v, v) > 0),
       |m AS (SELECT a.vec_id, a.cell, n.v, n.nm
       |      FROM a${iters + 1} a JOIN n USING (vec_id)),
       |p AS (SELECT x.vec_id AS ida, y.vec_id AS idb
       |      FROM m x JOIN m y ON x.cell = y.cell AND x.vec_id < y.vec_id
       |      WHERE CAST(ROUND(list_inner_product(x.v, y.v) / (x.nm * y.nm)
       |            * 1000000) AS BIGINT) >= $tauScaled),
       |d AS (SELECT vec_id, COUNT(*) AS n_dups, MIN(other) AS min_nb FROM (
       |        SELECT ida AS vec_id, idb AS other FROM p
       |        UNION ALL SELECT idb, ida FROM p) u
       |      GROUP BY vec_id)
       |SELECT m.vec_id, m.cell, CAST(COALESCE(d.n_dups, 0) AS BIGINT) AS n_dups,
       |  CAST(CASE WHEN d.min_nb < m.vec_id THEN 0 ELSE 1 END AS BIGINT) AS kept
       |FROM m LEFT JOIN d USING (vec_id) ORDER BY vec_id""".stripMargin

  /** ANN recall diagnostic — the tuning loop's "measure, don't guess"
    * operator: per-vector recall of the LSH-bucketed kNN join (q93)
    * against the exact kNN join (q92). Production raises `planes` /
    * multiprobe until this report's recall clears its target; the whole
    * thing is one composed plan (both joins share the normed prologue),
    * and with the portable signatures every stage has a DuckDB twin.
    * recall = n_hit / n_exact — one IEEE division of exact BIGINTs. */
  def knnRecall(embeddings: DataFrame, k: Int = 3, planes: Int = 8,
                blocks: Int = 8, probeFlips: Int = 1): DataFrame = {
    // both arms ride the registry shared-relation cache (r11): q92 and
    // q93 consume the identical relations, so the recall report costs
    // its own join + rollup, never a second all-pairs or LSH pass
    val exact = knnJoinUnorderedShared(embeddings, k, blocks)
      .select(col("vec_id"), col("nb_id"))
    val approx = knnJoinLshPortableShared(embeddings, k, planes, probeFlips)
      .select(col("vec_id"), col("nb_id"), lit(1).as("hit"))
    // ONE pass over the (expensive) exact side: the left join marks hits
    // — approx rows are unique per (vec_id, nb_id), so no fan-out — and
    // both aggregates ride the same groupBy (a separate semi-join branch
    // planned the all-pairs exact subtree twice, r7e review)
    exact.join(approx, Seq("vec_id", "nb_id"), "left")
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_exact"), count(col("hit")).as("n_hit"))
      .select(col("vec_id"), col("n_exact"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_exact")).as("recall"))
      .orderedOutput(col("vec_id"))
  }

  // ── corpus-count-DERIVED sign-LSH oracle fragments (r8 verdict task
  // #1): the registered q93/q106 entries must not pin one corpus size's
  // certified literal (planes = 4 was the 2,000-vector frontier point;
  // at 100× vectors it means ~quadratic bucket occupancy). These CTEs
  // re-derive the [[planesFor]] rule INSIDE the SQL — exact integer bit
  // scan, no float log2 — so one oracle text is correct at every SF,
  // exactly as the Spark side derives planes from embeddings.count(). ──

  /** `cnt` (corpus count), `pl` (planes = max(2, bitlength((n−1) div
    * target))) and `pj` (plane ids 0..planes−1). `where` restricts the
    * counted corpus (the q130 probe-only split derives geometry from
    * the INDEX side's count, not the full table). */
  private def planeKnobSql(target: Int, where: String = ""): String =
    s"""cnt AS (SELECT COUNT(*) AS n FROM embeddings $where),
       |pl AS (SELECT GREATEST(2, CAST(MAX(j) + 1 AS INT)) AS planes
       |       FROM cnt, (SELECT unnest(range(0, 63)) AS j) js
       |       WHERE (GREATEST((cnt.n - 1) // $target, 1) >> j) > 0),
       |pj AS (SELECT unnest(range(0, (SELECT planes FROM pl))) AS j)""".stripMargin

  /** The portable sign-LSH signature in RELATIONAL form — the plane id
    * is a row of the `pj` CTE instead of an inlined literal, so the
    * same SQL serves any derived plane count. Identical integer
    * arithmetic to [[signSignaturesPortable]] (xi = floor(x·2²⁰),
    * affine weight over (plane, 1-based pos), bit j set when the
    * projection is positive). Also emits `mk`, the hamming ≤ 2 probe
    * masks ([[probeMasks]] as a derived relation: 0, the single bits,
    * the ordered bit pairs — mutually distinct, so an ordered pair
    * still meets at exactly one mask). Expects knnBaseSql (e, n) and
    * [[planeKnobSql]] (pj) in scope; ends in `sg` (vec_id, v, nm, sig)
    * and `mk` (m). */
  private def derivedSigSql: String =
    """sx AS (SELECT vec_id, dims.pos AS i,
      |         CAST(floor(v[CAST(dims.pos AS INT)] * 1048576) AS BIGINT) AS xi
      |       FROM n, (SELECT unnest(range(1,
      |         (SELECT len(v) FROM e LIMIT 1) + 1)) AS pos) dims),
      |prj AS (SELECT sx.vec_id, pj.j,
      |         SUM(sx.xi * ((pj.j * 4096 + sx.i) * CAST(2654435761 AS BIGINT)
      |             % 1000000007 % 2001 - 1000)) AS p
      |       FROM sx, pj GROUP BY 1, 2),
      |sg0 AS (SELECT vec_id,
      |          CAST(SUM(CASE WHEN p > 0
      |            THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END)
      |            AS BIGINT) AS sig
      |        FROM prj GROUP BY 1),
      |sg AS (SELECT n.vec_id, n.v, n.nm, sg0.sig FROM n JOIN sg0 USING (vec_id)),
      |mk AS (SELECT CAST(0 AS BIGINT) AS m
      |       UNION ALL
      |       SELECT (CAST(1 AS BIGINT) << CAST(j AS INT)) FROM pj
      |       UNION ALL
      |       SELECT (CAST(1 AS BIGINT) << CAST(a.j AS INT))
      |            + (CAST(1 AS BIGINT) << CAST(b.j AS INT))
      |       FROM pj a, pj b WHERE a.j < b.j)""".stripMargin
      // `+` not bitwise-or on the two-bit masks: a.j < b.j makes the
      // bits distinct so the sum IS the union — and a `|` at line start
      // would be re-stripped when this fragment embeds in an outer
      // stripMargin template

  /** Scored LSH candidates through the derived mask relation: an
    * ordered pair meets iff xor(sig_a, sig_b) is one of the masks —
    * the relational form of [[lshMeetSql]]'s OR chain. `extraPred`
    * (must start with " AND" when present) restricts the sides — the
    * q130 probe-only split keeps a = query subset, b = index subset. */
  private def derivedScoredSql(extraPred: String = ""): String =
    s"""p AS (SELECT a.vec_id AS id, b.vec_id AS nb,
      |    CAST(ROUND(list_inner_product(a.v, b.v) / (a.nm * b.nm) * 1000000)
      |      AS BIGINT) AS c
      |  FROM sg a CROSS JOIN mk JOIN sg b
      |    ON b.sig = xor(a.sig, mk.m) AND a.vec_id <> b.vec_id$extraPred)""".stripMargin

  /** DuckDB twin of the registered (derived-planes, flips = 2) LSH kNN
    * join — q93's oracle at every corpus size. */
  private def knnLshDerivedOracleSql(k: Int, target: Int = 128): String =
    s"""WITH $knnBaseSql,
       |${planeKnobSql(target)},
       |$derivedSigSql,
       |${derivedScoredSql()},
       |r AS (${rankedSql("p")})
       |SELECT id AS vec_id, CAST(rk AS INT) AS rk, nb AS nb_id, c AS cos_scaled
       |FROM r WHERE rk <= $k ORDER BY vec_id, rk""".stripMargin

  /** DuckDB twin of the registered probe-only kNN (q130): queries =
    * `vec_id % mod = 0`, index = the rest; planes derive from the INDEX
    * side's count (the geometry a maintained store freezes); signatures
    * over everything (one CTE — the subsets are disjoint), multiprobe
    * masks applied to the query side only via the scored predicate. */
  private def knnProbeDerivedOracleSql(k: Int, mod: Long,
                                       target: Int = 128): String =
    s"""WITH $knnBaseSql,
       |${planeKnobSql(target, s"WHERE vec_id % $mod <> 0")},
       |$derivedSigSql,
       |${derivedScoredSql(
      s" AND a.vec_id % $mod = 0 AND b.vec_id % $mod <> 0")},
       |r AS (${rankedSql("p")})
       |SELECT id AS vec_id, CAST(rk AS INT) AS rk, nb AS nb_id, c AS cos_scaled
       |FROM r WHERE rk <= $k ORDER BY vec_id, rk""".stripMargin

  /** DuckDB twin of the registered probe-only recall diagnostic —
    * q131's oracle: the q130 split and one-sided masks, rolled up
    * against the brute probe-only yardstick. */
  private def knnProbeRecallDerivedOracleSql(k: Int, mod: Long,
                                             target: Int = 128): String = {
    // the query side is a BOUNDED sample (≤ 512 at any corpus size) —
    // the knnProbeExact broadcast contract; the index side is everything
    val split = s" AND a.vec_id % $mod = 0 AND a.vec_id < ${mod * 512}" +
      s" AND b.vec_id % $mod <> 0"
    s"""WITH $knnBaseSql,
       |${planeKnobSql(target, s"WHERE vec_id % $mod <> 0")},
       |xp AS (${scoredSql("n", split)}),
       |xr AS (${rankedSql("xp")}),
       |exact AS (SELECT id, nb FROM xr WHERE rk <= $k),
       |$derivedSigSql,
       |${derivedScoredSql(split)},
       |ar AS (${rankedSql("p")}),
       |approx AS (SELECT id, nb, 1 AS hit FROM ar WHERE rk <= $k)
       |SELECT exact.id AS vec_id, COUNT(*) AS n_exact,
       |  CAST(COUNT(approx.hit) AS BIGINT) AS n_hit,
       |  CAST(COUNT(approx.hit) AS DOUBLE) / COUNT(*) AS recall
       |FROM exact LEFT JOIN approx USING (id, nb)
       |GROUP BY exact.id ORDER BY vec_id""".stripMargin
  }

  /** DuckDB twin of the registered derived-planes recall diagnostic —
    * q106's oracle at every corpus size. */
  private def knnRecallDerivedOracleSql(k: Int, target: Int = 128): String =
    s"""WITH $knnBaseSql,
       |${planeKnobSql(target)},
       |xp AS (${scoredSql("n")}),
       |xr AS (${rankedSql("xp")}),
       |exact AS (SELECT id, nb FROM xr WHERE rk <= $k),
       |$derivedSigSql,
       |${derivedScoredSql()},
       |ar AS (${rankedSql("p")}),
       |approx AS (SELECT id, nb, 1 AS hit FROM ar WHERE rk <= $k)
       |SELECT exact.id AS vec_id, COUNT(*) AS n_exact,
       |  CAST(COUNT(approx.hit) AS BIGINT) AS n_hit,
       |  CAST(COUNT(approx.hit) AS DOUBLE) / COUNT(*) AS recall
       |FROM exact LEFT JOIN approx USING (id, nb)
       |GROUP BY exact.id ORDER BY vec_id""".stripMargin

  /** The deterministic probe row (lowest vec_id) WITHOUT a global sort:
    * a non-root `orderBy().limit(1)` cannot plan as TakeOrderedAndProject
    * (that strategy only fires at the query root), so it costs a full
    * range-exchange sort plus a single-partition limit of the whole
    * embeddings table before the search even starts. An all-reduce min +
    * broadcast equi-join is two map-side passes and one single-row
    * broadcast — same row, no sort (found by PlanAuditSpec's
    * mid-pipeline-sort rule, r7). */
  private def firstVector(e: DataFrame): DataFrame =
    e.join(broadcast(e.groupBy().agg(min(col("vec_id")).as("vec_id"))),
      Seq("vec_id"))

  val registry: Map[String, QueryDef] = Map(
    // IVF ANN: probe = lowest vec_id, nprobe=1. Oracle (upgraded from
    // rows-only in r5): label cells + first-k probe are fully
    // deterministic, so DuckDB re-derives centroid ranking and the
    // probed cell's brute-force top-10; cos_sim rounded to 6 absorbs
    // centroid summation-order ulps (cell ARGMAX is far from ties on
    // clustered data — verified exact at sf0.001/0.01/0.1).
    "q39_ivf_ann" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        ivfSearch(e, firstVector(e), k = 10, nprobe = 1)
      },
      Some("""WITH e AS (SELECT vec_id, label AS cell, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |probe AS (SELECT CAST(embedding AS DOUBLE[]) AS pv FROM embeddings ORDER BY vec_id LIMIT 1),
             |dims AS (SELECT unnest(range(1, (SELECT len(v) FROM e LIMIT 1) + 1)) AS pos),
             |ex AS (SELECT vec_id, cell, pos, v[CAST(pos AS INT)] AS x FROM e, dims),
             |cents AS (SELECT cell, pos, AVG(x) AS w FROM ex GROUP BY 1, 2),
             |ranked AS (
             |  SELECT c.cell,
             |    SUM(c.w * p.pv[CAST(c.pos AS INT)])
             |      / (SQRT(SUM(c.w * c.w)) * SQRT(list_inner_product(p.pv, p.pv))) AS cell_sim
             |  FROM cents c, probe p GROUP BY c.cell, p.pv
             |  ORDER BY cell_sim DESC LIMIT 1)
             |SELECT e.vec_id,
             |  ROUND(list_inner_product(e.v, p.pv)
             |    / (SQRT(list_inner_product(e.v, e.v)) * SQRT(list_inner_product(p.pv, p.pv))), 6) AS cos_sim
             |FROM e JOIN ranked r ON e.cell = r.cell, probe p
             |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin)),
    // k-means coarse quantizer: cell sizes + inertia after 3 Lloyd rounds.
    // The oracle re-runs the SAME deterministic algorithm (first-k init,
    // lexicographic argmin ties) as a DuckDB CTE chain — upgraded from
    // rows-only in r5; AnnMultimodalSpec still pins determinism and
    // non-increasing inertia independently.
    "q52_kmeans_cells" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        kmeansInertia(e, kmeansCells(e, k = 8, iters = 3))
      },
      Some(kmeansOracleSql(k = 8, iters = 3))),
    // sign-LSH ANN: same probe, bucketed by 16-bit hyperplane signature
    // with hamming-1 multi-probe (rows-only: xxhash64 weights have no
    // DuckDB twin; spec pins recall of planted duplicates + containment
    // in the brute-force ranking)
    "q49_lsh_ann" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        // 8 planes = 256 buckets: bucket occupancy ~n/256, dense enough to
        // fill k=10 at bench scale; raise planes as the corpus grows
        lshSearch(e, firstVector(e), k = 10, planes = 8)
      },
      None),
    // the SAME bucket + hamming-1 multiprobe + cosine re-rank pipeline
    // over the portable INTEGER-projection signatures — the whole sign-LSH
    // construction hash-checked in DuckDB (mirrors q66/q70's treatment of
    // MinHash/SimHash; q49 keeps the xxhash64 family for raw throughput)
    "q71_lsh_ann_portable" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        lshSearch(e, firstVector(e), k = 10, planes = 8,
          signatures = signSignaturesPortable)
      },
      Some(lshPortableOracleSql(planes = 8))),
    // exact kNN JOIN (every vector's top-3 neighbours): triangle-blocked
    // all-pairs + bounded TopK tail; oracle is the brute-force
    // row_number ranking over scaled-integer cosines
    "q92_knn_join" -> QueryDef(
      (s, d) => knnJoin(Tables.embeddings(s, d)),
      Some(knnJoinOracleSql(k = 3))),
    // the LSH-bucketed kNN join over PORTABLE integer signatures: the
    // whole approximate join (signatures, hamming<=2 multiprobe,
    // scaled-cosine ranking) re-derived in DuckDB — q92's scale path,
    // q71's oracle treatment. The plane count is DERIVED from the
    // corpus count by planesFor (r8 verdict task #1: the previous
    // literal planes = 4 was the 2,000-vector frontier point and the
    // wrong granularity at 100x) — at sf0.1 the rule reproduces the
    // recall-certified (planes 4, flips 2, recall@3 = 0.841) config;
    // the oracle derives the SAME rule inside SQL, so one oracle text
    // holds at every SF. embeddings.count() is parquet-metadata cheap
    // and the deployment analogue is a known corpus-snapshot count.
    "q93_knn_join_lsh" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        // shared with q106's approximate arm (r11) — identical derived
        // configuration, one signing + bucket join per registry pass
        knnJoinLshPortableShared(e, k = 3, planes = planesFor(e.count()),
          probeFlips = 2).orderedOutput(col("vec_id"), col("rk"))
      },
      Some(knnLshDerivedOracleSql(k = 3))),
    // PROBE-ONLY kNN against a prebuilt index (the q80 incremental
    // discipline for vectors, and the registry face of the AnnStream
    // maintained store): queries = vec_id % 17 = 0 stand in for an
    // arriving batch, the rest is the index; planes derive from the
    // INDEX count (the geometry a store freezes at build), only the
    // query side multiprobe-explodes, so index×index candidates never
    // form and the cost is the batch's own candidate volume. The
    // oracle re-derives the split, the index-count planesFor rule and
    // the one-sided masks in SQL.
    "q130_knn_probe" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val index = e.filter(col("vec_id") % 17 =!= 0)
        val queries = e.filter(col("vec_id") % 17 === 0)
        val planes = planesFor(index.count())
        knnProbeLsh(signSignaturesPortable(index, planes), index, planes,
          queries, k = 3, probeFlips = 2,
          signatures = signSignaturesPortable)
      },
      Some(knnProbeDerivedOracleSql(k = 3, mod = 17L))),
    // recall certification of the q130 probe configuration: per-query
    // recall@3 of the one-sided-multiprobe LSH probe vs the brute
    // probe-only yardstick. The query sample is BOUNDED by construction
    // (% 17 AND < 17·512 → ≤ 512 queries at ANY corpus size — a fixed
    // sample, not a fixed fraction), so the yardstick's broadcast-exact
    // side stays linear in the index forever. The report a deployment
    // watches when it tunes the maintained store's flips/occupancy.
    "q131_knn_probe_recall" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val index = e.filter(col("vec_id") % 17 =!= 0)
        val queries = e.filter(col("vec_id") % 17 === 0 &&
          col("vec_id") < 17L * 512)
        knnProbeRecall(index, queries, planes = planesFor(index.count()),
          signatures = signSignaturesPortable)
      },
      Some(knnProbeRecallDerivedOracleSql(k = 3, mod = 17L))),
    // ANN recall diagnostic: per-vector recall of the LSH kNN join vs
    // the exact kNN join — the tuning report an ANN deployment watches;
    // oracle composes the q92 + q93 chains and the semi-join rollup.
    // Registered at q93's DERIVED configuration, so this IS the report
    // that certifies the registered recall at whatever corpus size it
    // runs over.
    "q106_knn_recall" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        knnRecall(e, planes = planesFor(e.count()), probeFlips = 2)
      },
      Some(knnRecallDerivedOracleSql(k = 3))),
    // SemDeDup: semantic dedup confined to learned k-means cells (the
    // named curation algorithm — q35/q67 block by label, this by the
    // Lloyd quantizer's cells); kCells follows the kCellsFor sqrt(n)
    // rule on both engines (r8 verdict task #1 — cell size then grows
    // as sqrt(n), keeping total pair work ~n^1.5); oracle re-runs the
    // whole construction — derived cells, within-cell scaled-integer
    // cosines, keep-first decision
    "q103_semdedup" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        semDeDup(e, kCells = kCellsFor(e.count()))
      },
      Some(semDeDupDerivedOracleSql(iters = 3, tauScaled = 300000L))),
    // hybrid retrieval capstone: BM25 (q126) + cosine rank lists fused
    // by integer-scaled Reciprocal Rank Fusion; both arms and the
    // fusion re-derived in DuckDB (the q126 CTE chain verbatim + the
    // kNN cosine fragments + a row_number fusion twin)
    "q127_hybrid_rrf" -> QueryDef(
      (s, d) => hybridRrf(Tables.documents(s, d), Tables.embeddings(s, d)),
      Some(hybridRrfOracleSql(k = 5, depth = 20))),
    // ── embedding-space decontamination: the q130 probe-only split
    //    driven by the documents source column — eval (src0) vectors
    //    probe the train-side index at index-derived planes, exact
    //    scaled-cosine verify at τ·10⁶; the split, the planesFor rule,
    //    the one-sided masks and the per-train rollup all re-derived
    //    in DuckDB ──
    "q135_embed_decontaminate" -> QueryDef(
      (s, d) => deconRollup(embedDeconFlagsShared(Tables.embeddings(s, d),
        Tables.documents(s, d))),
      Some(embedDeconOracleSql(tauScaled = 300000L)))
  )

  /** The q135 chain up to the verified flag relation `f` (vec_id,
    * eval_id, c ≥ τ) — factored so the q136 contamination report can
    * splice the SAME semantic arm into its combined oracle (the
    * knnBaseSql treatment: one definition, every dependent oracle). */
  private[operators] def embedDeconFlagCtes(tauScaled: Long,
                                            target: Int = 128): String =
    s"""$knnBaseSql,
       |ev AS (SELECT doc_id AS vec_id FROM documents WHERE source = 'src0'),
       |${planeKnobSql(target, "WHERE vec_id NOT IN (SELECT vec_id FROM ev)")},
       |$derivedSigSql,
       |p AS (SELECT b.vec_id AS vec_id, a.vec_id AS eval_id,
       |    CAST(ROUND(list_inner_product(a.v, b.v) / (a.nm * b.nm) * 1000000)
       |      AS BIGINT) AS c
       |  FROM sg a CROSS JOIN mk JOIN sg b ON b.sig = xor(a.sig, mk.m)
       |  WHERE a.vec_id IN (SELECT vec_id FROM ev)
       |    AND b.vec_id NOT IN (SELECT vec_id FROM ev)),
       |f AS (SELECT * FROM p WHERE c >= $tauScaled)""".stripMargin

  /** DuckDB twin of the registered embedding decontamination (q135):
    * the eval split from the documents table, planes derived from the
    * INDEX side's count, one-sided multiprobe via the mask relation,
    * τ filter on the scaled cosine, and the argmax rollup (max cosine,
    * ties to the smallest eval id). */
  private def embedDeconOracleSql(tauScaled: Long, target: Int = 128): String =
    s"""WITH ${embedDeconFlagCtes(tauScaled, target)},
       |agg AS (SELECT vec_id, COUNT(*) AS n_eval_hits, MAX(c) AS mc
       |        FROM f GROUP BY vec_id),
       |best AS (SELECT f.vec_id, MIN(f.eval_id) AS best_eval_id
       |  FROM f JOIN agg ON agg.vec_id = f.vec_id AND f.c = agg.mc
       |  GROUP BY f.vec_id)
       |SELECT agg.vec_id, agg.n_eval_hits, best.best_eval_id,
       |  agg.mc AS best_cos_scaled
       |FROM agg JOIN best ON best.vec_id = agg.vec_id
       |ORDER BY agg.vec_id""".stripMargin

  /** Hybrid retrieval by Reciprocal Rank Fusion (q127) — the standard
    * two-arm retrieval stack over ONE query set: the lexical arm is
    * [[CurationQueries.bm25TopK]]'s ranking at fusion depth, the
    * semantic arm ranks every embedding against each query vector by
    * scaled-integer cosine (the q92 treatment), and the fused score is
    *   rrf(d) = Σ_arm 10⁹ div (60 + rank_arm(d))
    * (Cormack, Clarke & Buettcher, SIGIR 2009, the k = 60 convention) —
    * EXACT integers end to end, so ranks, scores and ties are
    * bit-identical cross-engine with no float anywhere in the fusion.
    * A document absent from an arm's depth-`depth` list contributes 0
    * from that arm; a query absent from one MODALITY (the synthetic
    * corpus has fewer embeddings than documents at some SFs) degrades
    * to the covered arm's ranking — the deployment semantics of partial
    * coverage, not an error.
    *
    * 100 TB shape: each arm is the already-audited shape (BM25's
    * broadcast query set over the inverted index; the cosine arm scans
    * the corpus ONCE against the dimension-sized broadcast query
    * vectors — brute-force by design, the q26 baseline; swap in
    * [[knnJoinLsh]]'s bucketed candidates when the query set outgrows a
    * broadcast). The fusion itself is a union of two depth-bounded rank
    * lists — dimension-sized per query — grouped and TopK'd, never a
    * corpus-scale shuffle. */
  def hybridRrf(documents: DataFrame, embeddings: DataFrame, k: Int = 5,
                depth: Int = 20, queryMod: Long = 29L): DataFrame = {
    val lex = CurationQueries.bm25TopK(documents, k = depth,
        queryMod = queryMod)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val n = withNorms(embeddings)
    val q = n.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("norm").as("qn"))
    val scoredSem = n.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("c", graft.functions.CollapseBarrier(
        round(dot(col("v"), col("qv")) / (col("norm") * col("qn")) * 1e6)
          .cast("long")))
      .select(col("query_id"), col("c"), col("vec_id").as("nb"))
    val topd = graft.functions.TopK.longPairUdaf(depth)
    val sem = scoredSem.groupBy(col("query_id"))
      .agg(topd(col("c"), col("nb")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("i", "e")))
      .select(col("query_id"), col("e._2").as("doc_id"),
        (col("i") + 1).cast("long").as("rank"))
    val contrib = lex.unionByName(sem)
      .selectExpr("query_id", "doc_id",
        "1000000000 div (60 + rank) as w")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("w")).as("rrf_scaled"))
    val topk = graft.functions.TopK.longPairUdaf(k)
    contrib.groupBy(col("query_id"))
      .agg(topk(col("rrf_scaled"), col("doc_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("i", "e")))
      .select(col("query_id"), (col("i") + 1).cast("long").as("rank"),
        col("e._2").as("doc_id"), col("e._1").as("rrf_scaled"))
      .orderedOutput(col("query_id"), col("rank"))
  }

  /** DuckDB twin of [[hybridRrf]]: the q126 lexical CTE chain verbatim
    * (via [[CurationQueries.bm25RankedCtes]]) + the kNN-family cosine
    * fragments restricted to the query vectors + the integer RRF union. */
  private def hybridRrfOracleSql(k: Int, depth: Int): String =
    s"""WITH ${CurationQueries.bm25RankedCtes},
       |$knnBaseSql,
       |qv AS (SELECT vec_id AS query_id, v AS pv, nm AS pn FROM n
       |       WHERE vec_id % 29 = 0),
       |sp AS (SELECT qv.query_id, n.vec_id AS doc_id,
       |         CAST(ROUND(list_inner_product(n.v, qv.pv) / (n.nm * qv.pn)
       |           * 1000000) AS BIGINT) AS c
       |       FROM n, qv WHERE n.vec_id <> qv.query_id),
       |sr AS (SELECT query_id, doc_id, ROW_NUMBER() OVER (
       |         PARTITION BY query_id ORDER BY c DESC, doc_id) AS rk
       |       FROM sp),
       |u AS (SELECT query_id, doc_id, 1000000000 // (60 + rk) AS w
       |      FROM lexr WHERE rk <= $depth
       |      UNION ALL
       |      SELECT query_id, doc_id, 1000000000 // (60 + rk)
       |      FROM sr WHERE rk <= $depth),
       |f AS (SELECT query_id, doc_id, CAST(SUM(w) AS BIGINT) AS rrf_scaled
       |      FROM u GROUP BY 1, 2),
       |fr AS (SELECT query_id, doc_id, rrf_scaled, ROW_NUMBER() OVER (
       |         PARTITION BY query_id ORDER BY rrf_scaled DESC, doc_id)
       |         AS rk FROM f)
       |SELECT query_id, rk AS rank, doc_id, rrf_scaled FROM fr
       |WHERE rk <= $k ORDER BY query_id, rank""".stripMargin

  /** Shared DuckDB fragments of the kNN-join oracles (q92/q93/q106) —
    * factored so a semantics fix (tie-break, zero-norm filter, scaling)
    * reaches every dependent oracle at once (the kmeansChainSql
    * treatment applied to the kNN family, r7e review). */
  private def knnBaseSql: String =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, SQRT(list_inner_product(v, v)) AS nm FROM e
      |      WHERE list_inner_product(v, v) > 0)""".stripMargin

  /** Scored candidate pairs (id, nb, c) over `rel`, optionally bucket-
    * restricted by `extraCond` (must start with " AND" when present). */
  private def scoredSql(rel: String, extraCond: String = ""): String =
    s"""SELECT a.vec_id AS id, b.vec_id AS nb,
       |    CAST(ROUND(list_inner_product(a.v, b.v) / (a.nm * b.nm) * 1000000)
       |      AS BIGINT) AS c
       |  FROM $rel a JOIN $rel b ON a.vec_id <> b.vec_id$extraCond""".stripMargin

  private def rankedSql(p: String): String =
    s"""SELECT id, nb, c, ROW_NUMBER() OVER (
       |    PARTITION BY id ORDER BY c DESC, nb) AS rk FROM $p""".stripMargin

  /** The production auto-scale rule for [[knnJoinLsh]]'s `planes`
    * (scaladoc bucket-occupancy rule, r7 verdict task #4): hold the
    * EXPECTED bucket occupancy n / 2^planes at `targetOccupancy` as the
    * corpus grows — planes = ⌈log₂(n / target)⌉, floored at 2. Bucket
    * work is occupancy² per bucket; fixing occupancy makes the
    * candidate volume grow LINEARLY in n (buckets ∝ n, each constant
    * work) instead of quadratically. Recall at the resulting
    * granularity is bought back with `probeFlips` — measure with q106
    * (the r8 frontier table in PERF.md). */
  def planesFor(n: Long, targetOccupancy: Int = 128): Int =
    math.max(2, 64 - java.lang.Long.numberOfLeadingZeros(
      math.max(1L, (n - 1) / targetOccupancy)))

  /** The production auto-scale rule for [[semDeDup]]'s `kCells`
    * (the scaladoc's kCells ∝ √n note, made executable): cells = ⌈√n⌉
    * floored at 8 — cell size then grows as √n too, so the within-cell
    * quadratic work per cell is n/cell² = O(1)·n and total work stays
    * ~n^1.5 instead of n² (SemDeDup's own scaling argument). */
  def kCellsFor(n: Long): Int =
    math.max(8, math.ceil(math.sqrt(n.toDouble)).toInt)

  /** XOR masks of hamming weight ≤ `flips` (0 = the home bucket) —
    * mutually distinct, so an ordered pair still meets at EXACTLY one
    * probe bucket and no distinct() is needed. */
  private def probeMasks(planes: Int, flips: Int): Seq[Long] = {
    require(flips >= 0 && flips <= 2, s"probeFlips $flips not in [0, 2]")
    val one = (0 until planes).map(j => 1L << j)
    val two = for { i <- 0 until planes; j <- i + 1 until planes }
      yield (1L << i) | (1L << j)
    Seq(0L) ++ (if (flips >= 1) one else Nil) ++ (if (flips >= 2) two else Nil)
  }

  /** DuckDB twin of the exact kNN join (q92). */
  private def knnJoinOracleSql(k: Int): String =
    s"""WITH $knnBaseSql,
       |p AS (${scoredSql("n")}),
       |r AS (${rankedSql("p")})
       |SELECT id AS vec_id, CAST(rk AS INT) AS rk, nb AS nb_id,
       |  c AS cos_scaled
       |FROM r WHERE rk <= $k ORDER BY vec_id, rk""".stripMargin

  /** DuckDB twin of the portable sign-LSH search: signature bits from the
    * identical integer arithmetic (1-based DuckDB lambda index i =
    * Spark's pos + 1), candidates by bucket or hamming-1, cosine re-rank
    * rounded to 6 (the q39 precedent for in-order double dot products). */
  /** The portable signature of [[signSignaturesPortable]] as a DuckDB
    * expression over a DOUBLE[] column `v` (1-based lambda index i =
    * Spark's pos + 1) — shared by the q71 and q93 oracles. */
  private def portableSigSql(planes: Int): String = {
    def projSql(j: Int): String =
      s"list_sum(list_transform(v, (x, i) -> CAST(floor(x * 1048576) AS BIGINT)" +
        s" * ((($j * 4096 + i) * CAST(2654435761 AS BIGINT)) % 1000000007 % 2001 - 1000)))"
    (0 until planes).map(j =>
      s"(CASE WHEN ${projSql(j)} > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString("(", " + ", ")")
  }

  private def lshPortableOracleSql(planes: Int): String = {
    val sigExpr = portableSigSql(planes)
    val probed = (s"s.sig = p.psig" +:
      (0 until planes).map(j => s"s.sig = xor(p.psig, ${1L << j})"))
      .mkString(" OR ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |sigs AS (SELECT vec_id, v, $sigExpr AS sig FROM e),
       |probe AS (SELECT v AS pv, sig AS psig FROM sigs ORDER BY vec_id LIMIT 1)
       |SELECT s.vec_id,
       |  ROUND(list_inner_product(s.v, p.pv)
       |    / (SQRT(list_inner_product(s.v, s.v)) * SQRT(list_inner_product(p.pv, p.pv))), 6) AS cos_sim
       |FROM sigs s, probe p WHERE $probed
       |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin
  }
}
