package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The hist3x history file: the core count is metadata, never a
  * query entry, and files written before it was are still read. */
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
}
