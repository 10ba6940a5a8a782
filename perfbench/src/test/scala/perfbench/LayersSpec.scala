package perfbench

import org.scalatest.funsuite.AnyFunSuite

class LayersSpec extends AnyFunSuite {
  test("per-layer names and units match BENCHMARK.json") {
    val spec = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("../BENCHMARK.json"))
    val it = spec.get("per_layer").elements()
    val declared = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .map(n => n.get("name").asText() -> n.get("unit").asText()).toSeq
    assert(declared == Layers.all)
  }
}
