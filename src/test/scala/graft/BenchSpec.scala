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

  test("BENCH_FULL.json keeps the wall map and adds one metrics record per entry") {
    import graft.obs.{EntryMetrics, TaskTotals}
    val metrics = Seq(
      EntryMetrics("prep:star", None, 1.25, 0L, 3L, Nil, 4L,
        TaskTotals(tasks = 8L, shuffleWriteBytes = 1024L, peakExecMemBytes = 65536L)),
      EntryMetrics("g_wcc", None, 2.0004, 42L, 5L, Nil, 7L, TaskTotals(tasks = 12L, cpuNs = 1500000000L)),
      EntryMetrics("q\"bad", Some("java.lang.RuntimeException: no\nway"), 0.5, -1L, 1L, Nil, 1L,
        TaskTotals()))
    val json = new ObjectMapper().readTree(
      Bench.fullJson(metrics, "/data/sf0.01", load, load, contaminated = false))
    assert(math.abs(json.get("value").asDouble - 3.750) < 1e-9)
    val qs = json.get("queries")
    assert(qs.size === 3)
    assert(qs.get("prep:star").asDouble === 1.25)
    assert(qs.get("g_wcc").asDouble === 2.0)
    assert(qs.get("q\"bad").asDouble === 0.5)
    val ms = json.get("metrics")
    assert(ms.size === 3)
    val star = ms.get("prep:star")
    assert(star.get("name").asText === "prep:star" && star.get("ok").asBoolean)
    assert(star.get("jobs").asLong === 3L && star.get("stages").asLong === 4L)
    assert(star.get("tasks").asLong === 8L && star.get("shuffle_write_bytes").asLong === 1024L)
    assert(star.get("peak_exec_memory_bytes").asLong === 65536L)
    assert(ms.get("g_wcc").get("executor_cpu_s").asDouble === 1.5)
    assert(ms.get("g_wcc").get("rows").asLong === 42L)
    val bad = ms.get("q\"bad")
    assert(!bad.get("ok").asBoolean && bad.get("error").asText.endsWith("no\nway"))
    assert(json.get("sf").asText === "/data/sf0.01" && !json.get("contaminated").asBoolean)
  }
}
