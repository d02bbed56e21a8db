package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The hist3x history file: the core count is metadata, never a
  * query entry, and files written before it was are still read. The
  * hist3x rule scales its threshold by the history's core ratio. */
class BenchHistorySpec extends AnyFunSuite {

  private def tmp(content: Option[String]): String = {
    val f = Files.createTempFile("bench_history", ".json")
    f.toFile.deleteOnExit()
    content match {
      case Some(c) => Files.writeString(f, c)
      case None => Files.delete(f)
    }
    f.toString
  }

  test("round-trip keeps the core count apart from the query map") {
    val path = tmp(Some(""))
    val secs = Seq("q01_demand_heatmap" -> 0.25, "q47_stream_tumbling" -> 3.0)
    BenchHistory.write(path, 8, secs)
    assert(BenchHistory.read(path) == (Some(8), secs.toMap))
    val txt = new String(Files.readAllBytes(java.nio.file.Paths.get(path)))
    assert(!txt.contains("__cpus"))
  }

  test("legacy flat map: __cpus becomes the core count, not a query") {
    val path = tmp(Some(
      """{"__cpus":32,"q01_demand_heatmap":0.5,"q02_tip_trends":1.25}"""))
    assert(BenchHistory.read(path) ==
      (Some(32), Map("q01_demand_heatmap" -> 0.5, "q02_tip_trends" -> 1.25)))
  }

  test("legacy map without a core count, a missing and a broken file") {
    assert(BenchHistory.read(tmp(Some("""{"q01_demand_heatmap":2}"""))) ==
      (None, Map("q01_demand_heatmap" -> 2.0)))
    assert(BenchHistory.read(tmp(None)) == (None, Map.empty))
    assert(BenchHistory.read(tmp(Some("{\"q01"))) == (None, Map.empty))
  }

  private val secs = Seq("a" -> 3.5, "b" -> 5.0, "c" -> 13.0, "d" -> 0.9, "e" -> 2.0)
  private val prev = Map("a" -> 1.0, "b" -> 1.0, "c" -> 1.0, "d" -> 0.1, "e" -> 1.0)

  test("hist3x at the same core count: > 3x and > 1 s, slowest first") {
    assert(BenchHistory.hist3x(secs, 8, (Some(8), prev)) == Seq("c", "b", "a"))
  }

  test("hist3x on a history from 4x the cores: threshold 12x") {
    assert(BenchHistory.hist3x(secs, 8, (Some(32), prev)) == Seq("c"))
  }

  test("hist3x on a history from fewer cores keeps 3x") {
    assert(BenchHistory.hist3x(secs, 32, (Some(8), prev)) == Seq("c", "b", "a"))
  }

  test("hist3x on a legacy history without a core count re-times nothing") {
    assert(BenchHistory.hist3x(secs, 8, (None, prev)).isEmpty)
  }

  test("hist3x re-times at most 12, and only entries with a history") {
    val many = (1 to 20).map(i => s"q$i" -> (10.0 + i))
    val hist = (1 to 20).map(i => s"q$i" -> 1.0).toMap
    assert(BenchHistory.hist3x(many, 4, (Some(4), hist)) ==
      (20 to 9 by -1).map(i => s"q$i"))
    assert(BenchHistory.hist3x(Seq("new" -> 50.0), 4, (Some(4), hist)).isEmpty)
  }
}
