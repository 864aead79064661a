package perfbench

import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

class LayersSpec extends AnyFunSuite {
  test("the traced run reports exactly BENCHMARK.json's per_layer metrics and units") {
    val bench = new String(Files.readAllBytes(Paths.get("..", "BENCHMARK.json")), UTF_8)
    val perLayer = bench.substring(bench.indexOf("\"per_layer\""))
    val entry = """\{"name":\s*"([^"]+)",\s*"unit":\s*"([^"]+)"""".r
    val listed = entry.findAllMatchIn(perLayer).map(m => m.group(1) -> m.group(2)).toSeq
    assert(listed.nonEmpty)
    assert(Layers.Units == listed)
  }
}
