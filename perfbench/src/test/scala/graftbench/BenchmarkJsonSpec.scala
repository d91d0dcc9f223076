package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** BENCHMARK.json names exactly the metrics the benchmark prints. */
class BenchmarkJsonSpec extends AnyFunSuite {
  private val doc = new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))
  private def metrics(key: String): Seq[(String, String)] =
    doc.get(key).elements().asScala.map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq

  test("per-layer metrics match the traced result") {
    assert(metrics("per_layer") === Layers.all)
  }

  test("end-to-end metrics match the untraced result") {
    assert(metrics("end_to_end") === Main.EndToEnd)
  }

  test("workloads match the benchmark's") {
    assert(doc.get("workloads").elements().asScala.map(_.get("name").asText()).toSet ===
      Main.Workloads.keySet)
  }
}
