package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (small parallelism: unit-test data is
  * tiny; shuffle.partitions=4 keeps plans readable and runs fast). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** The Spark jobs `body` submits, counted by a listener. Job counts are
    * exact and host-independent, so specs pin them where a timing would
    * be noise. */
  protected def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(sc) // earlier specs' events stay out
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.ListenerBusDrain(sc)
      started.get()
    } finally sc.removeSparkListener(listener)
  }

  /** Recursive copy, used by the streamed-store crash specs to stash
    * and restore delta partitions around a compaction (reconstructing
    * the on-disk state of a specific crash interleaving). */
  protected def copyTree(src: java.nio.file.Path,
                         dst: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, Path}
    val walk = Files.walk(src) // holds open dir handles until close()
    try walk.forEach { p: Path =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
