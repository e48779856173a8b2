package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** BENCHMARK.json, at the repository root, names the same metrics with
  * the same units as the benchmark prints.
  */
class CatalogSpec extends AnyFunSuite {
  private val json = new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))

  private def listed(key: String): Seq[(String, String)] =
    json.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  test("end-to-end metrics match") {
    assert(listed("end_to_end") == Metrics.endToEnd)
  }

  test("per-layer metrics match") {
    assert(listed("per_layer") == Metrics.perLayer)
    assert(Metrics.perLayer.map(_._1).distinct.size == Metrics.perLayer.size)
  }

  test("workloads exist") {
    val names = json.get("workloads").elements().asScala.map(_.get("name").asText).toSeq
    names.foreach(n => assert(Workload.named(n).name == n))
  }
}
