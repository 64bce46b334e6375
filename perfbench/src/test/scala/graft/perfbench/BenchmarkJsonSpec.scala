package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** `BENCHMARK.json` declares exactly the metrics the harness prints, with
  * the same units, and only workloads the harness runs. */
class BenchmarkJsonSpec extends AnyFunSuite {

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(new java.io.File("../BENCHMARK.json"))

  private def declared(key: String): Seq[(String, String)] =
    json.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  test("end-to-end metrics match the untraced run's output") {
    assert(declared("end_to_end") == Main.EndToEnd)
  }

  test("per-layer metrics match the traced run's output") {
    assert(declared("per_layer") == Layered.Units)
  }

  test("every declared workload is one the harness runs") {
    val names = json.get("workloads").elements().asScala.map(_.get("name").asText).toSeq
    assert(names.nonEmpty && names.forall(Set("serve", "cdc_ingest", "curation")))
  }
}
