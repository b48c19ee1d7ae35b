package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins Bench's stdout line, the one part of its output the driver
  * reads: six keys, short enough for the driver's ~2,000-char stdout
  * tail, with `value` and `n_queries` over every query. */
class BenchLineSpec extends AnyFunSuite {

  test("stdout line: six keys, at most 1,500 chars, slowest kept, total over all") {
    import scala.jdk.CollectionConverters._
    val results = (1 to 442).map(i => f"q_synthetic_$i%03d" -> i / 100.0)
    val (line, full) = Bench.lines(results, "/data/sf0.1")
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(json.fieldNames().asScala.toSet ==
      Set("metric", "value", "unit", "n_queries", "queries", "sf"))
    assert(line.length <= 1500, s"stdout line is ${line.length} chars")
    assert(json.get("n_queries").asInt() == 442)
    assert(math.abs(json.get("value").asDouble() - results.map(_._2).sum) < 1e-6)
    val kept = json.get("queries").fieldNames().asScala.toSeq
    assert(kept.nonEmpty && kept.size < 442)
    assert(kept.toSet == results.sortBy(-_._2).take(kept.size).map(_._1).toSet,
      "the trimmed line must keep the slowest queries")
    assert(new com.fasterxml.jackson.databind.ObjectMapper().readTree(full)
      .get("queries").size() == 442)
  }
}
