package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's stdout pointer to its detail file stays parseable JSON
  * whatever path `SPARK_GRAFT_BENCH_DETAIL` names. */
class BenchDetailLineSpec extends AnyFunSuite {

  private def parse(line: String) =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)

  test("detail pointer line escapes quote and backslash in the path") {
    val path = """C:\bench runs\"quoted" detail.json"""
    val json = parse(Bench.detailPointerLine(path))
    assert(json.get("detail").asText == "bench_runs")
    assert(json.get("detail_file").asText == path)
  }

  test("detail pointer line for a plain path is unchanged") {
    assert(Bench.detailPointerLine("bench_detail.json") ==
      """{"detail":"bench_runs","detail_file":"bench_detail.json"}""")
  }
}
