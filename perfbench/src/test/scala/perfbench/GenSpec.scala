package perfbench

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class GenSpec extends AnyFunSuite {

  private val small = Gen.Params(routes = 3, tripsPerDay = 12, days = 2)

  private def generate(seed: Long, dir: Path): Gen.Expected = {
    val net = Gen.network(seed, small)
    Gen.writeSchedule(net, dir.resolve("gtfs"))
    Gen.writeHistory(seed, net, small, dir.resolve("rt"))
  }

  /** relative path -> bytes of every file under `dir` */
  private def contents(dir: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  private def fresh(name: String): Path = {
    val d = Paths.get("target", "gen-spec", name)
    if (Files.exists(d)) BatchPipeline.deleteTree(d.toString)
    Files.createDirectories(d)
  }

  test("one seed yields byte-identical inputs") {
    val a = fresh("a")
    val b = fresh("b")
    assert(generate(7, a) == generate(7, b))
    val ca = contents(a)
    assert(ca.keySet.exists(_.endsWith(".pb")) && ca.contains("gtfs/stop_times.txt"))
    assert(ca == contents(b))
  }

  test("another seed yields other inputs") {
    val a = fresh("c")
    val b = fresh("d")
    generate(7, a)
    generate(8, b)
    assert(contents(a) != contents(b))
  }

  test("the expected counts follow the generated shape") {
    val e = generate(7, fresh("e"))
    // three snapshots per vehicle: last-wins keeps one observation in three
    assert(e.observations - e.ghostObservations == 3 * e.recordKeys)
    assert(e.vehicles > 0 && e.feeds > 0)
  }
}
