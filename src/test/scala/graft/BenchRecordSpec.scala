package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The bench's parse contract: with the whole registry's worth of queries,
  * the stdout summary stays short enough for a 2,000-character tail and
  * the per-query numbers live only in the detail file. */
class BenchRecordSpec extends AnyFunSuite {
  private val json = new ObjectMapper()

  // 125 entries, the registry's size, named about as long as its longest
  private val results = (0 until 125).map { i =>
    f"synthetic_registry_query_$i%03d" ->
      (if (i % 25 == 7) None else Some(0.1 + i * 0.013))
  }
  private val (line, detail) = Bench.records(results, "data/tpch/sf0.1",
    runs = 3, cpus = 4, bulkLoadSec = 5.25, detailPath = "BENCH_LAST.json",
    partial = false)

  test("summary line is one JSON object under 1,800 bytes") {
    assert(!line.contains('\n'))
    assert(line.getBytes("UTF-8").length < 1800)
    val s = json.readTree(line)
    assert(s.fieldNames().asScala.toSet == Set("metric", "value", "unit",
      "count", "failed", "sf", "runs_per_query", "cpus", "bulk_load_sec",
      "detail"))
    assert(s.get("count").asInt() == 125)
    assert(s.get("failed").asInt() == 5)
    assert(BigDecimal(s.get("value").decimalValue()) ==
      BigDecimal(results.flatMap(_._2).sum)
        .setScale(3, BigDecimal.RoundingMode.HALF_UP))
    assert(s.get("detail").asText() == "BENCH_LAST.json")
  }

  test("detail file holds every median and every failed name") {
    val d = json.readTree(detail)
    assert(!d.get("partial").asBoolean())
    val qs = d.get("queries")
    assert(qs.size() == 120)
    assert(qs.get("synthetic_registry_query_124").asDouble() == 1.712)
    assert(d.get("failed_queries").elements().asScala.map(_.asText()).toSeq ==
      Seq(7, 32, 57, 82, 107).map(i => f"synthetic_registry_query_$i%03d"))
  }
}
