package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

class OutputSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  private def names(arr: JsonNode): Seq[(String, String)] =
    arr.elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  test("the result line is one JSON object, with a name and a unit per metric") {
    val ms = Main.EndToEnd.map { case (n, u) => (n, math.Pi, u) } :+
      (("nan_metric", Double.NaN, "ms"))
    val line = Stats.resultJson(correct = true, attempted = 3, failed = 0, ms)
    val node = mapper.readTree(line)
    assert(node.fieldNames().asScala.toSet === Set("correct", "attempted", "failed", "metrics"))
    assert(node.get("attempted").isIntegralNumber && node.get("failed").isIntegralNumber)
    val metrics = node.get("metrics")
    assert(metrics.size === ms.size)
    ms.foreach { case (n, _, u) =>
      val m = metrics.get(n)
      assert(m.fieldNames().asScala.toSet === Set("value", "unit"), n)
      assert(m.get("unit").asText === u)
    }
    assert(metrics.get("setup_s").get("value").asDouble === math.Pi)
    assert(metrics.get("nan_metric").get("value").isNull)
  }

  test("the emitted metric names and units are exactly BENCHMARK.json's") {
    val spec = mapper.readTree(Files.readAllBytes(Paths.get("..", "BENCHMARK.json")))
    assert(names(spec.get("end_to_end")) === Main.EndToEnd)
    assert(names(spec.get("per_layer")) === Main.PerLayer)
    assert(spec.get("workloads").elements().asScala.map(_.get("name").asText).toSet ===
      Main.Workloads.keySet)
  }
}
