package graft

/** The specs run under the same session policy as the oracle gate and
  * the benchmark: [[GraftSession.local]] at 4 cores. */
class GraftSessionSpec extends SparkSpec {
  test("the spec session carries the GraftSession policy") {
    val conf = spark.conf
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum") == "32")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.extensions") == "graft.GraftExtensions")
    assert(spark.sparkContext.master == "local[4]")
  }
}
