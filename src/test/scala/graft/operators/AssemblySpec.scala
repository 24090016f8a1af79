package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Assembly/quantization battery: span rewriting must equal a brute-force
  * driver re-execution, PQ distances must be exact integer ADC, DSIR
  * scores must match hand arithmetic, and the shard sequence must equal
  * its window twin. */
class AssemblySpec extends SparkSpec {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("spanDedupRewrite keeps first occurrences and reassembles in order") {
    import spark.implicits._
    val w = 2 // tiny chunks make the cases readable
    val d = docs(
      0L -> "a b c d e f",       // chunks: "a b","c d","e f"
      1L -> "c d x y",           // "c d" repeats doc0 -> dropped
      2L -> "a b a b g h",       // self-repeat: second "a b" dropped
      3L -> "e"                  // ragged tail chunk survives
    )
    val got = AssemblyQueries.spanDedupRewrite(d, width = w)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // brute-force driver re-execution of the contract
    val all = Seq(0L -> "a b c d e f", 1L -> "c d x y",
      2L -> "a b a b g h", 3L -> "e").flatMap { case (id, t) =>
      t.split(" ").grouped(w).zipWithIndex.map { case (c, i) =>
        (id, i.toLong, c.mkString(" "))
      }
    }
    val firstK = all.groupBy(_._3).map { case (c, occ) =>
      c -> occ.map(o => o._1 * 1048576L + o._2).min
    }
    val want = all.groupBy(_._1).map { case (id, chunks) =>
      val kept = chunks.sortBy(_._2)
        .filter(c => c._1 * 1048576L + c._2 == firstK(c._3))
      (id, chunks.size.toLong, kept.size.toLong,
        java.security.MessageDigest.getInstance("MD5")
          .digest(kept.map(_._3).mkString(" ").getBytes("UTF-8"))
          .map("%02x".format(_)).mkString)
    }.toSeq.sortBy(_._1)
    assert(got.toSeq == want)
    // planted expectations hold: doc1 lost "c d" (first seen in doc0);
    // doc2 lost BOTH its "a b" chunks (also first seen in doc0)
    assert(got.find(_._1 == 1L).get._3 == 1L)
    assert(got.find(_._1 == 2L).get._3 == 1L)
  }

  test("pqSearch: probe distance 0, ranked first; ADC equals driver recompute") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 60L).map { i =>
      (i, Array.fill(16)(rnd.nextFloat() * 2 - 1), (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
    val probe = vecs.filter(col("vec_id") === 0L)
    val got = AssemblyQueries.pqSearch(vecs, probe, subDim = 4, kCent = 8,
      topK = 60).collect().map(r => (r.getLong(0), r.getLong(1)))
    // driver re-execution: quantize, first-8 codebook, integer argmin, ADC
    val data = vecs.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    def quant(v: Array[Float]): Array[Long] =
      v.map(x => math.floor(x.toDouble * 1048576.0).toLong)
    val q = data.map { case (id, v) => (id, quant(v)) }.toMap
    val cents = (0L until 8L).map(q) // first-8 codebook, rank = index
    def code(v: Array[Long], sub: Int): Int =
      (0 until 8).minBy { c =>
        val d = (0 until 4).map(k => {
          val diff = v(sub * 4 + k) - cents(c)(sub * 4 + k); diff * diff
        }).sum
        (d, c)
      }
    val pq0 = q(0L)
    val want = data.map { case (id, _) =>
      val v = q(id)
      val adc = (0 until 4).map { s =>
        val c = code(v, s)
        (0 until 4).map { k =>
          val diff = pq0(s * 4 + k) - cents(c)(s * 4 + k); diff * diff
        }.sum
      }.sum
      (id, adc)
    }.sortBy(t => (t._2, t._1))
    assert(got.toSeq == want.toSeq)
    assert(got.head == (0L, 0L), "probe must rank first at distance 0")
  }

  test("dsirWeights matches hand arithmetic on a planted two-source corpus") {
    import spark.implicits._
    val d = Seq(
      (0L, "aa aa bb", "src0"), // target
      (1L, "aa cc cc", "srcX")
    ).toDF("doc_id", "text", "source")
    val got = AssemblyQueries.dsirWeights(d, targetSource = "src0")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // corpus counts: aa=3, bb=1, cc=2; target: aa=2, bb=1, cc=0
    // (tokens hash to distinct buckets: 2-char tokens, tiny vocab)
    val wAa = 2L * 1000000L / 3L
    val wBb = 1L * 1000000L / 1L
    val wCc = 0L
    assert(got == Seq(
      (0L, 3L, wAa * 2 + wBb),
      (1L, 3L, wAa + wCc * 2)))
  }

  test("shardSequence equals its row_number window twin on the real table") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val got = AssemblyQueries.shardSequence(d, nShards = 8, bucketShift = 22)
    import org.apache.spark.sql.expressions.Window
    val hv = (col("doc_id") % lit(1000000007L)) * lit(2654435761L) % lit(1000000007L)
    val want = d.select(col("doc_id"), hv.as("hv"))
      .withColumn("shard", col("hv") % 8)
      .withColumn("seq", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("hv"), col("doc_id")))
        .cast("long"))
      .select(col("doc_id"), col("shard"), col("seq"))
    assert(got.count() == d.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("bpeTrain equals a pure-Scala reference BPE on a planted corpus") {
    import spark.implicits._
    val corpus = Seq(
      0L -> "the cat sat on the cat mat",
      1L -> "the cat ate the cat food",
      2L -> "a dog saw the cat run"
    )
    val (mergesDf, encodedDf) = AssemblyQueries.bpeTrain(
      corpus.toDF("doc_id", "text"), merges = 4)
    val got = mergesDf.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4))).sortBy(_._1)
    // pure-Scala reference: same rendering, same overlapping-position
    // counts, same (count desc, l, r) tie-break, same left-to-right
    // non-overlapping merge application
    def h(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.substring(0, 8)
    var docs = corpus.map { case (id, t) => (id, t.split(" ").toSeq.map(h)) }
    val want = (1 to 4).map { step =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      docs.foreach { case (_, syms) =>
        syms.sliding(2).foreach {
          case Seq(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + 1
          case _ =>
        }
      }
      val ((l, r), c) = counts.toSeq.minBy { case ((a, b), n) => (-n, a, b) }
      val m = h(s"$l $r")
      docs = docs.map { case (id, syms) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
            out += m; i += 2
          } else { out += syms(i); i += 1 }
        }
        (id, out.toSeq)
      }
      (step, l, r, m, c)
    }
    assert(got.toSeq == want)
    // the dominant bigram "the cat" (5 occurrences) must be merge #1
    assert(got.head._2 == h("the") && got.head._3 == h("cat"))
    // encoded docs match the reference segmentation
    val gotEnc = encodedDf.collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    docs.foreach { case (id, syms) =>
      assert(gotEnc(id) == syms.mkString(" "))
    }
  }

  test("q89 then q90 share one bpeTrain run per corpus snapshot") {
    import spark.implicits._
    val sf = tempDir("graft-bpe-sf")
    def writeCorpus(texts: Seq[String]): Unit =
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$sf/documents.parquet")
    def run(name: String) =
      AssemblyQueries.registry(name).build(spark, sf.toString).collect().toSeq
    def counts = (SharedRelations.hits, SharedRelations.misses)
    SharedRelations.clear()
    try {
      writeCorpus(Seq("the cat sat on the cat mat", "the cat ate the cat food",
        "a dog saw the cat run", "a dog ate the dog food"))
      val (h0, m0) = counts
      val merges = run("q89_bpe_merges")
      val encode = run("q90_bpe_encode")
      assert(counts === ((h0 + 1, m0 + 1)), "one miss (q89), one hit (q90)")
      val (table, encoded) = AssemblyQueries.bpeTrain(
        graft.sources.Tables.documents(spark, sf.toString), merges = 8)
      assert(merges === table.orderBy("step").collect().toSeq)
      assert(encode === encoded.select(col("doc_id"),
          size(split(col("s"), " ")).as("n_syms"), md5(col("s")))
        .orderBy("doc_id").collect().toSeq)
      // a rewritten corpus is a new snapshot: the memo rebuilds
      writeCorpus(Seq("a dog saw the dog run", "the cat sat"))
      val (_, m1) = counts
      run("q89_bpe_merges")
      assert(SharedRelations.misses === m1 + 1)
    } finally {
      SharedRelations.clear()
      org.apache.hadoop.fs.FileUtil.fullyDelete(sf.toFile)
    }
  }

  test("mixManifest equals a pure-Scala re-execution of the whole pipeline") {
    val rows = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val stops = Set("the", "data", "row", "scan", "join", "query")
    val P = 1000000007L
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // q65 keep rule (split(-1): Spark/DuckDB keep trailing empty tokens)
    val kept = rows.filter { case (_, _, t) =>
      val tk = t.split(" ", -1)
      val n = tk.length
      val atl = (t.length - n + 1).toDouble / n
      val sr = tk.count(stops).toDouble / n
      !(n < 24 || n > 88 || atl < 4.0 || atl > 5.0 || sr < 0.08)
    }
    // q22 canonical pick
    val keepIds = kept.groupBy(r => md5(r._3)).map(_._2.map(_._1).min).toSet
    val dd = kept.filter(r => keepIds(r._1))
      .map { case (id, src, t) =>
        (id, src, t.split(" ", -1).length.toLong, (id % P) * 2654435761L % P)
      }
    // q64 per-source budget prefix in (hv, doc_id) order
    val mixed = dd.groupBy(_._2).valuesIterator.flatMap { docs =>
      var cum = 0L
      docs.sortBy(d => (d._4, d._1)).iterator.map { d =>
        cum += d._3; (d, cum)
      }.filter(_._2 <= 1000L).map(_._1)
    }.toSeq
    // q87 shard + manifest arithmetic
    val want = mixed.groupBy(_._4 % 64).map { case (shard, ds) =>
      val tok = ds.map(_._3).sum
      (shard, ds.size.toLong, tok, (tok + 511) / 512)
    }.toSeq.sortBy(_._1)
    val got = AssemblyQueries.mixManifest(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == want)
    assert(want.nonEmpty, "the budget must keep something")
  }

  test("packSequences: planted boundary math (straddles, exact cuts)") {
    import spark.implicits._
    // global order is (hv, doc_id): hv(0)=0, hv(2)=308871487, hv(1)=654421747
    // -> doc0 (3 tok) at offset 0, doc2 (4 tok) at 3, doc1 (2 tok) at 7
    val d = Seq(
      0L -> "a b c",
      1L -> "h i",
      2L -> "d e f g"
    ).toDF("doc_id", "text")
    val got = AssemblyQueries.packSequences(d, seqLen = 4, bucketShift = 22)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.toSeq == Seq(
      (0L, 3L, 0L, 0L, 0L), // tokens 0-2: inside sequence 0
      (1L, 2L, 7L, 1L, 2L), // tokens 7-8: straddles the 8-boundary
      (2L, 4L, 3L, 0L, 1L)  // tokens 3-6: straddles the 4-boundary
    ))
  }

  test("packSequences equals its global running-sum window twin on the real table") {
    import org.apache.spark.sql.expressions.Window
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val got = AssemblyQueries.packSequences(d, seqLen = 512, bucketShift = 22)
    val hv = (col("doc_id") % lit(1000000007L)) * lit(2654435761L) % lit(1000000007L)
    val w = Window.orderBy(col("hv"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val want = d.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"), hv.as("hv"))
      .withColumn("start_off", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("seq_first", expr("start_off div 512"))
      .withColumn("seq_last", expr("(start_off + n_tokens - 1) div 512"))
      .select(col("doc_id"), col("n_tokens"), col("start_off"),
        col("seq_first"), col("seq_last"))
    assert(got.count() == d.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("classProfileClassifier separates planted disjoint vocabularies; integer weights match driver recompute") {
    import spark.implicits._
    // two classes with disjoint vocabularies; even ids train, odd ids test
    // (the registered q105 runs the same construction on the synthetic
    // corpus, whose lang column carries NO textual signal — this corpus
    // proves the classifier actually discriminates when signal exists)
    def doc(cls: String, i: Int): String =
      (0 until 20).map(j => s"${cls}word${(i + j) % 7}").mkString(" ")
    val rows = (0L until 40L).map { i =>
      val cls = if (i % 4 < 2) "aa" else "bb"
      (i, doc(cls, (i / 4).toInt), cls)
    }
    val df = rows.toDF("doc_id", "text", "lang")
    val got = AssemblyQueries.classProfileClassifier(df, buckets = 64)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.length == 20 && got.forall(_._4 == 1L), s"mispredictions: ${got.filter(_._4 == 0L).toSeq}")
    // driver recompute of the full integer construction on the test docs
    def bucket(tok: String): Long =
      (0 until 8).map(k => (if (k < tok.length) tok(k).toLong else 0L) *
        math.pow(31, k).toLong).sum % 1000000007L % 64L
    val train = rows.filter(_._1 % 2 == 0)
    val toks = train.flatMap { case (_, t, c) => t.split(" ").map(c -> bucket(_)) }
    val tot = toks.groupBy(_._1).map { case (c, xs) => c -> xs.size.toLong }
    val cnt = toks.groupBy(identity).map { case ((c, b), xs) => (c, b) -> xs.size.toLong }
    def w(c: String, b: Long): Long =
      (cnt.getOrElse((c, b), 0L) + 1L) * 1000000000L / (tot(c) + 64L)
    val classes = tot.keys.toSeq.sorted
    rows.filter(_._1 % 2 == 1).foreach { case (id, t, truth) =>
      val scores = classes.map(c => c -> t.split(" ").map(tk => w(c, bucket(tk))).sum)
      val pred = scores.minBy { case (c, s) => (-s, c) }._1
      val sparkRow = got.find(_._1 == id).get
      assert(sparkRow._3 == pred && pred == truth)
    }
  }

  test("centroidOutlier scores a planted outlier below its cluster") {
    import spark.implicits._
    // cluster 0: tight around e1; the outlier points the other way
    val base = Array.fill(8)(1.0f)
    val vecs = (0L until 6L).map { i =>
      val v = if (i == 5L) base.map(-_) else base.clone()
      (i, v, 0)
    }.toDF("vec_id", "embedding", "label")
    val scores = AssemblyQueries.centroidOutlier(vecs)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(scores(5L) < 0 && (0L until 5L).forall(i => scores(i) > 0.9))
  }
}
