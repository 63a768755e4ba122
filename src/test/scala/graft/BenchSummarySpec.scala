package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** Bench's last stdout line is read from a 2,000-character tail capture, so
  * it must fit that tail whole and its `queries` map must be the slowest-first
  * prefix of the full map: exactly the N slowest, with `queries_omitted`
  * counting the rest.
  */
class BenchSummarySpec extends AnyFunSuite {

  private def line(times: Seq[(String, Double)]): String =
    Bench.summaryLine(times, marker = "", failedJson = "[]", streamRate = 512345.67,
      rocksRate = 498765.43, statelessRate = 2345678.91, load = 3.87,
      fullPath = "BENCH_FULL_LATEST.json", sfDir = "/data/sf0.1")

  /** The last line of `output` as the tail capture sees it. */
  private def captured(output: String): JsonNode = {
    val tail = output.takeRight(2000)
    new ObjectMapper().readTree(tail.split('\n').filter(_.nonEmpty).last)
  }

  private def check(times: Seq[(String, Double)]): JsonNode = {
    val out = "[bench] noise\n" + ("{\"metric\":\"total\"," + "x" * 5000 + "}\n") +
      line(times) + "\n"
    val json = captured(out)
    val kept = json.get("queries").fieldNames().asScala.toSeq
    assert(kept.nonEmpty)
    assert(kept.toSet == times.sortBy(-_._2).take(kept.size).map(_._1).toSet,
      "queries is not the slowest-first prefix")
    assert(json.get("queries_omitted").asInt == times.size - kept.size)
    Seq("value", "failed", "stream_rows_per_sec", "stream_rows_per_sec_rocksdb",
      "stream_stateless_rows_per_sec", "load_avg").foreach(k => assert(json.has(k), k))
    json
  }

  test("all registry names: the line parses from the tail and keeps the N slowest") {
    val rnd = new scala.util.Random(42)
    val names = SparkEntry.queries.keys.toSeq.sorted
    assert(names.size >= 171)
    val times = names.map { n =>
      n -> (if (rnd.nextInt(10) == 0) 2 + rnd.nextDouble() * 20 else rnd.nextDouble() * 2)
    }
    val json = check(times)
    assert(json.get("queries_omitted").asInt > 0)
    assert(line(times).length <= Bench.SummaryBudget)
  }

  test("a long name that does not fit ends the map even when a shorter one would") {
    val long = "q998_" + "x" * 40
    val short = "q9_x"
    def times(fillers: Int): Seq[(String, Double)] =
      (0 until fillers).map(i => f"q$i%03d_" + "f" * 15 -> (900.0 - i)) ++
        Seq(long -> 500.0, short -> 499.0) ++
        (0 until 171 - fillers - 2).map(i => f"q${500 + i}%03d_rest" -> (300.0 - i))
    // the fewest fillers that push the long name out of the line: the room it
    // missed is at least the 29 characters of one more filler entry, which
    // is more than the short name's entry needs
    val fillers = (0 to 70).find(f => !captured(line(times(f))).get("queries").has(long))
    assert(fillers.isDefined)
    val ts = times(fillers.get)
    assert(Bench.SummaryBudget - line(ts).length >= ("\"" + short + "\":499.0,").length,
      "the short entry would fit after the long one")
    val json = check(ts)
    assert(!json.get("queries").has(short))
    assert(json.get("queries_omitted").asInt == 171 - fillers.get)
  }
}
