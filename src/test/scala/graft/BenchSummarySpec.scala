package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's last stdout line must fit a 2000-char tail capture as one
  * complete JSON object, however large the registry grows.
  */
class BenchSummarySpec extends AnyFunSuite {

  private def walls(n: Int): Seq[(String, Double)] =
    (0 until n).map(i => (f"q_some_operator_name_$i%03d", 0.5 + (i % 17) * 0.31))

  test("summary line stays under the cap for a 408-query registry") {
    val line = Bench.boundedSummaryLine(walls(408), Nil, 393.0, 174L,
      408, "/root/testdata/sf0.1")
    assert(line.length <= 1700, s"line is ${line.length} chars")
    assert(line.startsWith("""{"metric":"total","value":393.00"""))
    assert(line.endsWith(""""sf":"/root/testdata/sf0.1"}"""))
  }

  test("summary line stays under the cap at a 1000-query registry") {
    val line = Bench.boundedSummaryLine(walls(1000), Nil, 900.0, 500L,
      1000, "/root/testdata/sf0.1")
    assert(line.length <= 1700, s"line is ${line.length} chars")
    assert(line.endsWith(""""sf":"/root/testdata/sf0.1"}"""))
    val parsed = graft.sources.ManifestMeta.parse(line)
      .asInstanceOf[Map[String, Any]]
    assert(parsed("n_queries").asInstanceOf[Number].intValue == 1000)
  }

  test("summary line stays bounded even at a 5000-query registry") {
    val line = Bench.boundedSummaryLine(walls(5000), Nil, 4100.0, 999L,
      5000, "/root/testdata/sf0.1")
    assert(line.length <= 1700, s"line is ${line.length} chars")
  }

  test("queries object carries the slowest entries first and parses as JSON") {
    val ws = Seq(("q_fast", 0.1), ("q_slowest", 9.9), ("q_mid", 3.0))
    val line = Bench.boundedSummaryLine(ws, Nil, 13.0, 1L, 3, "sf")
    val qPos = line.indexOf("\"queries\":{")
    assert(qPos > 0)
    assert(line.indexOf("q_slowest", qPos) < line.indexOf("q_mid", qPos))
    assert(line.indexOf("q_mid", qPos) < line.indexOf("q_fast", qPos))
    // must be one complete JSON object (the driver json.loads it)
    val parsed = graft.sources.ManifestMeta.parse(line)
      .asInstanceOf[Map[String, Any]]
    assert(parsed("metric") == "total")
    assert(parsed("n_queries").asInstanceOf[Number].intValue == 3)
    assert(parsed("queries").asInstanceOf[Map[String, Any]].size == 3)
  }

  test("a long failed list is truncated but counted in full") {
    val failed = (0 until 60).map(i => s"q_broken_$i")
    val line = Bench.boundedSummaryLine(walls(300), failed, 1.0, 0L, 360, "sf")
    assert(line.length <= 1700, s"line is ${line.length} chars")
    assert(line.contains(""""failed_n":60"""))
    assert(line.contains("q_broken_9"))
    assert(!line.contains("q_broken_59"))
  }
}
