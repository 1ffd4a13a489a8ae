package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Bench.resultLine]], the one stdout line of a bench run: valid
  * JSON (Jackson parses it), never longer than [[Bench.MaxLine]] chars,
  * with the slowest queries first.
  */
class BenchLineSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper

  // 352 queries with distinct medians; q_351 is the slowest
  private val medians = (0 until 352).map(k => f"q_$k%03d_some_query_name" -> (0.01 + k * 0.013)).toMap

  test("352 queries and 5 long error names fit the cap and parse") {
    val errors = (1 to 5).map(k => s"err_$k\"_" + "x" * 300)
    val line = Bench.resultLine(medians.values.sum, medians, errors, 3, 61.25,
      "/data/sf0.1", 0 until 40)
    assert(line.length <= Bench.MaxLine, line.length)
    assert(line.startsWith("""{"metric":"total","""))
    val j = mapper.readTree(line)
    assert(j.get("metric").asText === "total")
    assert(math.abs(j.get("value").asDouble - medians.values.sum) < 1e-3)
    assert(j.get("queries_total_n").asInt === 352)
    assert(j.get("errors_n").asInt === 5)
    assert(j.get("setup_sec").asDouble === 61.25)
    val qs = j.get("queries").fieldNames.asScala.toSeq
    assert(qs.nonEmpty && j.get("queries_in_line_n").asInt === qs.size)
    // the slowest ones, in order
    assert(qs === medians.toSeq.sortBy(-_._2).map(_._1).take(qs.size))
    // each error name is cut to 80 chars, the quote escaped
    j.get("error_queries").elements.asScala.foreach { e =>
      assert(e.asText.startsWith("err_") && e.asText.length == 80)
    }
  }

  test("a short run keeps every error and lap, and failed queries are not listed") {
    val m = Map("a" -> 1.5, "b" -> -1.0, "c" -> 0.25)
    val line = Bench.resultLine(1.75, m, Seq("b"), 3, 2.0, "/data/sf0.1", Seq(1))
    val j = mapper.readTree(line)
    assert(j.get("queries").fieldNames.asScala.toSeq === Seq("a", "c"))
    assert(j.get("error_queries").elements.asScala.map(_.asText).toSeq === Seq("b"))
    assert(j.get("disturbed_laps").elements.asScala.map(_.asInt).toSeq === Seq(1))
    assert(j.get("sf").asText === "/data/sf0.1")
  }

  test("the cap holds for every query count") {
    for (n <- Seq(0, 1, 10, 40, 352)) {
      val m = medians.toSeq.sortBy(_._1).take(n).toMap
      val line = Bench.resultLine(m.values.sum, m, Nil, 1, 0.0, "/d/sf0.1", Nil)
      assert(line.length <= Bench.MaxLine)
      mapper.readTree(line)
    }
  }
}
