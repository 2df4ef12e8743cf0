package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The bench's last stdout line must survive a 2000-char tail capture:
  * a short summary, with the per-query map left to BENCH_FULL.json. */
class BenchSpec extends AnyFunSuite {

  private val results = (1 to 220).map(i => f"g_some_long_query_name_$i%03d" -> (i * 1.2345))
  private val load = (0.52, 0.61, 0.77)

  test("summary line of a 220-query run is at most 500 bytes and parses") {
    val line = Bench.summaryLine(results, "/data/tpch/sf0.1", load, load,
      contaminated = false, Some("/srv/graft/BENCH_FULL.json"))
    assert(line.getBytes("UTF-8").length <= 500, line)
    val json = new ObjectMapper().readTree(line)
    assert(json.get("metric").asText === "total")
    assert(math.abs(json.get("value").asDouble - results.map(_._2).sum) < 1e-3)
    assert(json.get("n_queries").asInt === 220)
    assert(json.get("sf").asText === "/data/tpch/sf0.1")
    assert(json.get("load").get("before").size === 3)
    assert(json.get("load").get("after").get(2).asDouble === 0.77)
    assert(!json.get("contaminated").asBoolean)
    assert(json.get("full").asText === "/srv/graft/BENCH_FULL.json")
    assert(!json.has("queries"))
  }

  test("long paths are cut, quotes escaped, and a missing file reads null") {
    val deep = "/x" * 300 + "/sf\"1"
    val line = Bench.summaryLine(results, deep, load, load, contaminated = true, None)
    assert(line.getBytes("UTF-8").length <= 500, line)
    val json = new ObjectMapper().readTree(line)
    assert(json.get("sf").asText.endsWith("/sf\"1"))
    assert(json.get("full").isNull)
    assert(json.get("contaminated").asBoolean)
  }

  test("the full path is never cut; sf gives way to it") {
    val full = "/srv/graft/checkouts/" + "nested-build-directory/" * 6 + "BENCH_FULL.json"
    val sf = "/data/tpch/" + "partitioned-scale-factor/" * 5 + "sf0.1"
    assert(full.length > 120 && sf.length > 120)
    val both = new ObjectMapper().readTree(
      Bench.summaryLine(results, sf, load, load, contaminated = false, Some(full)))
    assert(both.get("full").asText === full)
    assert(both.get("sf").asText === sf)

    val fuller = full.replace("/srv/", "/srv/" + "another-level/" * 8)
    val line = Bench.summaryLine(results, sf, load, load, contaminated = false, Some(fuller))
    assert(line.getBytes("UTF-8").length <= Bench.SummaryMax, line)
    val json = new ObjectMapper().readTree(line)
    assert(json.get("full").asText === fuller)
    val cutSf = json.get("sf").asText
    assert(cutSf.startsWith("...") && sf.endsWith(cutSf.stripPrefix("...")) && cutSf.length < sf.length)
  }
}
