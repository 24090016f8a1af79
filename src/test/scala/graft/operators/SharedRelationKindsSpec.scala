package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** [[SharedRelations]] keys its entries by a `kind` literal that must be
  * unique per construction: two builders sharing a kind would serve each
  * other's relations. This scans the engine's sources for every kind. */
class SharedRelationKindsSpec extends AnyFunSuite {

  private val KindLiteral =
    """SharedRelations(?:\.(?:group|value))?\(\s*"([^"]+)"""".r

  private def kinds(): Seq[(String, String)] = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.flatMap { f =>
        val src = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        KindLiteral.findAllMatchIn(src).map(m => m.group(1) -> f.getFileName.toString)
      }
    } finally walk.close()
  }

  test("every SharedRelations kind literal in src/main is used by one builder only") {
    val found = kinds()
    assert(found.size >= 20, s"the scan found only ${found.size} kinds: $found")
    val dups = found.groupBy(_._1).filter(_._2.size > 1)
    assert(dups.isEmpty, s"kinds used more than once: $dups")
  }

  test("the scan sees the serving kinds") {
    assert(Set("predictor", "boarddims", "tripstops", "rtstats", "rtobs", "bpe", "bm25tf")
      .subsetOf(kinds().map(_._1).toSet))
  }
}
