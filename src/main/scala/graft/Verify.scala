package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (`tools/check_oracle.py`).
  * Exits 1, naming the failed queries on stderr, when any query throws:
  * the rows-only queries have no oracle key, so the compare alone
  * cannot see them fail. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(GraftSession.envCores)
    new java.io.File(outDir).mkdirs()
    // dev loop: SPARK_GRAFT_ONLY=q82,q83 dumps just those queries; unset,
    // the gate runs everything
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val picked = only.fold(SparkEntry.queries) { sel =>
      SparkEntry.queries.filter { case (n, _) => sel.exists(n.startsWith) }
    }
    val failed = picked.toSeq.filterNot { case (name, fn) =>
      // a query that throws must leave NO output: a stale dir from an
      // earlier run in the same out dir would otherwise pass the gate
      val dst = new org.apache.hadoop.fs.Path(s"$outDir/$name")
      dst.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dst, true)
      val ok = try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(dst.toString)
        true
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        false
      }
      // parquet write committed → the query's one-shot checkpoints are
      // consumed; retire them (no-op without a checkpoint dir)
      graft.operators.Checkpoints.releaseOneShots()
      ok
    }.map(_._1)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val memo = graft.operators.SharedRelations
    println(s"[verify] shared relations: ${memo.hits} hits, ${memo.misses} misses, " +
      s"${memo.residentBytes} bytes resident")
    println("[verify] shared relations by kind (hits/misses, resident bytes): " +
      memo.byKind.map(k => s"${k.kind} ${k.hits}/${k.misses} ${k.residentBytes}")
        .mkString(", "))
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
