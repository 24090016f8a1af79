package perfbench

import java.nio.file.Files
import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite

class AutomaticModeSpec extends AnyFunSuite {

  test("feeds map to the source batch that listed them, compacted logs included") {
    val dir = Files.createTempDirectory("perfbench-srclog")
    val log = dir.resolve("sources").resolve("0")
    Files.createDirectories(log)
    def entry(name: String, batch: Int) =
      s"""{"path":"file:///x/rt/$name","timestamp":1,"batchId":$batch}"""
    Files.write(log.resolve("9.compact"),
      Seq("v1", entry("feed_00000.pb", 0), entry("feed_00001.pb", 9)).mkString("\n").getBytes(UTF_8))
    Files.write(log.resolve("10"), Seq("v1", entry("feed_00002.pb", 10)).mkString("\n").getBytes(UTF_8))
    Files.write(log.resolve(".10.tmp"), Seq("v1", entry("feed_00003.pb", 11)).mkString("\n").getBytes(UTF_8))
    assert(AutomaticMode.sourceBatches(dir.toString) ==
      Map("feed_00000.pb" -> 0L, "feed_00001.pb" -> 9L, "feed_00002.pb" -> 10L))
    assert(AutomaticMode.sourceBatches(dir.resolve("none").toString).isEmpty)
  }

  test("a query batch reads the source batches its progress spans, if it had input") {
    val b = AutomaticMode.Batch(new java.util.UUID(0, 0), 7, inputRows = 3, sourceFrom = 4,
      sourceTo = 6, triggerMs = 1, commitMs = 2, stateRows = 0, stateUpdated = 0, workItems = 0)
    assert(!b.read(4) && b.read(5) && b.read(6) && !b.read(7))
    assert(!b.copy(inputRows = 0).read(5))
  }

  test("every feed reports the whole fleet and bases change every few feeds") {
    val net = Gen.network(1, Gen.Params(routes = 3, tripsPerDay = 12, days = 1))
    val fleet = net.trips.take(8)
    val day = Gen.FirstDay
    val feeds = (0 until 8).map(AutomaticMode.feed(fleet, day, _))
    assert(feeds.forall(_.tripUpdates.size == fleet.size))
    assert(AutomaticMode.feed(fleet, day, 3) == feeds(3))
    val bases = feeds.map(_.tripUpdates.map(_.stopTimeUpdates.head))
    val changed = bases.sliding(2).map { case Seq(a, b) => a.zip(b).count { case (x, y) => x != y } }.sum
    assert(changed == fleet.size * 7 / AutomaticMode.BasisEvery)
  }
}
