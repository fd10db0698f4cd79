package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Pins the driver-facing bench contract (r17 verdict item 1): the
  * bench's stdout line must be ONE strict-JSON object carrying total,
  * per-query seconds, sf and cpus — parsed here with Jackson exactly
  * the way a `json.loads(last_line)` driver would. */
class BenchJsonSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  test("compactLine is one strict-JSON line with the contract fields") {
    val mins = Seq("q1_agg" -> 0.1234, "tpch01" -> 1.5,
      "q245_wide_quantiles" -> 0.31519, "broken_q" -> -1.0)
    val line = Bench.compactLine(mins, 1.9386, "/root/testdata/sf0.1",
      32, contaminated = false, errors = Seq("broken_q"))
    assert(!line.contains("\n"), "must be a single line")
    val node = mapper.readTree(line) // throws on malformed JSON
    assert(node.get("metric").asText() == "total")
    assert(math.abs(node.get("value").asDouble() - 1.9386) < 1e-9)
    assert(node.get("unit").asText() == "sec")
    assert(node.get("sf").asText() == "/root/testdata/sf0.1")
    assert(node.get("cpus").asInt() == 32)
    assert(!node.get("contaminated").asBoolean())
    val qs = node.get("queries")
    assert(qs.size() == 4)
    assert(math.abs(qs.get("q1_agg").asDouble() - 0.1234) < 1e-9)
    assert(math.abs(qs.get("q245_wide_quantiles").asDouble() - 0.3152) < 1e-9)
    assert(qs.get("broken_q").asDouble() == -1.0)
    assert(node.get("errors").get(0).asText() == "broken_q")
  }

  test("compactLine survives a comma-decimal default locale") {
    val prev = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      val line = Bench.compactLine(Seq("q" -> 1.5), 1.5, "d", 8,
        contaminated = true, errors = Nil)
      val node = mapper.readTree(line)
      assert(node.get("value").asDouble() == 1.5)
      assert(node.get("contaminated").asBoolean())
    } finally java.util.Locale.setDefault(prev)
  }

  test("compactLine escapes quotes and backslashes in sfDir and error names") {
    val sfDir = "C:\\data\\sf \"0.1\""
    val bad = "q\"x\\y"
    val line = Bench.compactLine(Seq(bad -> -1.0), 0.0, sfDir, 4,
      contaminated = false, errors = Seq(bad))
    assert(!line.contains("\n"), "must be a single line")
    val node = mapper.readTree(line)
    assert(node.get("sf").asText() == sfDir)
    assert(node.get("errors").get(0).asText() == bad)
    assert(node.get("queries").get(bad).asDouble() == -1.0)
  }

  test("SPARK_GRAFT_CPUS must be a positive integer") {
    assert(Bench.parseCpus(None) == 4)
    assert(Bench.parseCpus(Some(" 16 ")) == 16)
    Seq("", "four", "8,", "0", "-2", "2.5").foreach { v =>
      val e = intercept[IllegalArgumentException](Bench.parseCpus(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"))
    }
  }
}
