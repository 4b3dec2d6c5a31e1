package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper

/**
 * The bench's last stdout line is the one a tail-window reader parses:
 * it keeps only the last 2000 chars and reads the last complete JSON
 * line there (build.sbt suppresses the sbt success epilogue so this
 * line IS the tail's end). A flat map of every key outgrew that window
 * long ago, so `Bench.driverLine` packs per-query entries
 * slowest-first until the line reaches its budget. These tests pin
 * that it fits, parses as flat JSON, and keeps its sentinels.
 */
class BenchLineSpec extends AnyFunSuite {
  private val keys = SparkEntry.queries.keys.toSeq.sorted
  // deterministic per-key pseudo-times matching the real suite's shape
  // (mostly sub-second, a handful of 1-2s stragglers)
  private val results = keys.zipWithIndex.map { case (k, i) =>
    k -> (if (i % 12 == 0) 1.0 + (math.abs(k.hashCode) % 150) / 100.0
          else 0.05 + (math.abs(k.hashCode) % 95) / 100.0)
  }

  test("driver line: fits the tail window, valid flat JSON, slowest-first") {
    val total = results.map(_._2).sum
    val line = Bench.driverLine(results, total, Some(1.23), "/root/testdata/sf0.1")
    assert(line.length <= 1900, s"driver line ${line.length} chars > 1900")
    assert(!line.contains('\n'))
    val root = new ObjectMapper().readTree(line)
    assert(root.get("metric").asText() == "total")
    assert(root.get("unit").asText() == "sec")
    assert(math.abs(root.get("value").asDouble() - total) < 1e-3)
    assert(math.abs(root.get("control_ratio").asDouble() - 1.23) < 1e-9)
    assert(root.get("n_queries").asInt() == results.size)
    assert(root.get("sf").asText() == "/root/testdata/sf0.1")
    val q = root.get("queries")
    assert(q.size() > 0 && q.size() <= results.size)
    // every entry matches its source value, and the shown set is the
    // slowest prefix of the suite (modulo entries skipped only because
    // a longer name no longer fit)
    val shown = q.fieldNames()
    val src = results.toMap
    var minShown = Double.MaxValue
    while (shown.hasNext) {
      val k = shown.next()
      assert(math.abs(q.get(k).asDouble() - src(k)) < 1e-3, k)
      minShown = math.min(minShown, src(k))
    }
    // the single slowest query is always present
    val slowest = results.maxBy(_._2)._1
    assert(q.has(slowest), s"slowest key $slowest missing from driver line")
  }

  test("driver line: null control_ratio and -1 sentinels survive") {
    val line = Bench.driverLine(Seq("ok" -> 0.5, "broken" -> -1.0), 0.5,
      None, "sf0")
    val root = new ObjectMapper().readTree(line)
    assert(root.get("control_ratio").isNull)
    assert(root.get("queries").get("broken").asDouble() == -1.0)
    assert(root.get("queries").get("ok").asDouble() == 0.5)
  }
}
