package graft

import graft.analyse.CurvePoint

/** The session extension makes curve_x_at_y available in SQL without any
  * manual registration (SparkSpec activates it via spark.sql.extensions). */
class GraftExtensionsSpec extends SparkSpec {
  test("spark.sql.extensions injects curve_x_at_y") {
    import spark.implicits._
    val out = Seq(Tuple1(Seq(CurvePoint(0f, 0f), CurvePoint(100f, 1f))))
      .toDF("points")
      .selectExpr("curve_x_at_y(points, 0.25f) AS q25")
      .collect().head.getFloat(0)
    assert(out == 25f)
  }

  test("curve_continuation and curve_cap_points are SQL-callable") {
    import spark.implicits._
    import graft.analyse.FocusCurve
    val set = Seq(
      FocusCurve(0f, Seq(CurvePoint(0f, 0f), CurvePoint(10f, 1f))),
      FocusCurve(100f, Seq(CurvePoint(100f, 0f), CurvePoint(120f, 1f))))
    val cont = Seq(Tuple1(set)).toDF("cs")
      .selectExpr("curve_continuation(cs, 0.0f) AS c")
      .collect().head.getAs[scala.collection.Seq[org.apache.spark.sql.Row]](0)
    assert(cont.map(r => (r.getFloat(0), r.getFloat(1))) ==
      Seq((0f, 0f), (10f, 1f))) // clamp to the first curve
    val capped = Seq(Tuple1((0 until 300).map(i => CurvePoint(i.toFloat, i / 299f))))
      .toDF("c")
      .selectExpr("curve_cap_points(c, 120) AS o")
      .collect().head.getAs[scala.collection.Seq[org.apache.spark.sql.Row]](0)
    assert(capped.length <= 120 && capped.length >= 2)
  }

  test("RewriteIntersectSize: size(array_intersect) optimizes to a set count") {
    import spark.implicits._
    // parquet round-trip: a literal LocalRelation would be constant-folded
    // before the plan can be inspected
    val dir = tempDir("graft-isz").toString
    Seq(
      (0L, Seq("a", "b", "c", "b"), Seq("b", "c", "d")),
      (1L, Seq.empty[String], Seq("x")),
      (2L, Seq("n", null, "m"), Seq(null, "n")))
      .toDF("id", "x", "y").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
      .selectExpr("id", "size(array_intersect(x, y)) AS n")
    assert(df.queryExecution.optimizedPlan.toString.contains("intersect_size"),
      df.queryExecution.optimizedPlan.toString)
    // semantics identical to the unrewritten expression (null counted once
    // when present on both sides, duplicates collapsed)
    val got = df.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(0L -> 2, 1L -> 0, 2L -> 2))
    // float arrays are NOT rewritten (NaN set semantics differ)
    Seq((Seq(1.0, 2.0), Seq(2.0))).toDF("x", "y")
      .write.mode("overwrite").parquet(dir)
    val floats = spark.read.parquet(dir)
      .selectExpr("size(array_intersect(x, y)) AS n")
    assert(!floats.queryExecution.optimizedPlan.toString.contains("intersect_size"))
    assert(floats.collect().head.getInt(0) === 1)
  }
}
