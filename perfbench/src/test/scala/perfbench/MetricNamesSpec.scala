package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

class MetricNamesSpec extends AnyFunSuite {
  private val benchmark: JsonNode = new ObjectMapper().readTree(new File("../BENCHMARK.json"))
  private def entries(key: String): Seq[JsonNode] = benchmark.get(key).elements().asScala.toSeq
  private def declared(key: String): Seq[(String, String)] =
    entries(key).map(e => e.get("name").asText() -> e.get("unit").asText())

  private val name = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r
  private val unit = "[A-Za-z0-9_/%.-]{1,16}".r

  test("every metric name and unit fits the grammar") {
    (Main.endToEnd ++ LayerMetrics.catalogue).foreach { case (n, u) =>
      assert(name.matches(n), n)
      assert(unit.matches(u), s"$n: $u")
    }
  }

  test("metric names are unique") {
    val all = (Main.endToEnd ++ LayerMetrics.catalogue).map(_._1)
    assert(all.distinct == all)
  }

  test("BENCHMARK.json declares exactly the metrics the harness prints") {
    assert(declared("end_to_end") == Main.endToEnd)
    assert(declared("per_layer") == LayerMetrics.catalogue)
  }

  test("BENCHMARK.json names workloads the harness runs") {
    entries("workloads").map(_.get("name").asText()).foreach { w =>
      assert(Workloads.byName(w, "data", Map.empty).name == w)
    }
  }

  test("setup_s is an end-to-end metric with the largest bound") {
    val bounds = entries("end_to_end").map(e => e.get("name").asText() -> e.get("bound").asDouble()).toMap
    assert(bounds("setup_s") == bounds.values.max)
    assert(bounds.values.forall(b => b > 0 && b <= 0.25))
  }
}
