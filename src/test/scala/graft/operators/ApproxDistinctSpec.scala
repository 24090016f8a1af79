package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

class ApproxDistinctSpec extends SparkSpec {
  test("q47: HLL estimate within the configured 2% rsd of the exact count") {
    val d = "/root/testdata/sf0.001"
    val approx = RelationalQueries.registry("q47_approx_distinct")
      .build(spark, d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.lineitem(spark, d)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, n) =>
      val err = math.abs(approx(k).toDouble - n) / n
      assert(err < 0.06, s"flag $k: approx ${approx(k)} vs exact $n (err $err)")
    }
  }

  test("q74: KMV estimate within ~2/sqrt(k) of exact; exact below k; deterministic") {
    val d = "/root/testdata/sf0.001"
    def run() = RelationalQueries.registry("q74_kmv_distinct")
      .build(spark, d).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val got = run()
    val exact = Tables.lineitem(spark, d)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet === exact.keySet)
    exact.foreach { case (k, n) =>
      if (n < 64) assert(got(k) === n.toDouble, s"flag $k: exact below k")
      else {
        val err = math.abs(got(k) - n) / n
        assert(err < 2.0 / math.sqrt(64), s"flag $k: kmv ${got(k)} vs exact $n (err $err)")
      }
    }
    assert(run() === got, "set-semantics sketch is run-deterministic")
    // tiny group: estimator must switch to the exact kept count
    import spark.implicits._
    val tiny = Seq((1L, "x"), (2L, "x"), (2L, "x"), (3L, "y"))
      .toDF("l_orderkey", "l_returnflag")
    val dir = tempDir("graft-kmv").toString
    // reuse the registry build against a synthetic lineitem projection
    val kmv = org.apache.spark.sql.functions.udaf(
      new graft.functions.KmvSketch(64),
      org.apache.spark.sql.Encoders.scalaLong)
    val small = tiny.groupBy(col("l_returnflag"))
      .agg(kmv(col("l_orderkey")).as("sk"))
      .select(col("l_returnflag"), col("sk._1").as("n"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(small === Map("x" -> 2, "y" -> 1), "distinct kept values below k")
  }
}
